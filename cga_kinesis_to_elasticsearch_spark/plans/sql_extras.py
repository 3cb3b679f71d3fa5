"""SQL-surface extras: cube / grouping sets / pivot / JSON path /
array higher-order functions.

SURVEY §2.11 lists these as absent from the reference but free on the
Spark surface; each is declared here with a DuckDB oracle so the free
claim is *checked*, not asserted.

Cross-engine notes:
- cube/grouping-sets NULL markers are disambiguated with coalesce to
  '<all>' (the grouping columns are never NULL in the data);
- pivot cells use count -> fillna(0) on the Spark side and
  sum(CASE...) on the SQL side, both cast to BIGINT;
- list_aggregate('sum') of an empty DuckDB list is NULL while Spark's
  fold returns the init value — coalesce on the SQL side;
- DuckDB len() is BIGINT, Spark size() is INT — cast to long.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .declared import _t, q

# ---------------------------------------------------------------------------
# CUBE
# ---------------------------------------------------------------------------


@q(
    "cube_order_stats",
    """
    SELECT coalesce(o_orderstatus, '<all>') AS orderstatus,
           coalesce(o_orderpriority, '<all>') AS orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def _cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping combinations in one
    pass (Spark expands to a single Expand + hash aggregate — one
    shuffle regardless of how many grouping sets)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("orderpriority"),
            "n",
            "total",
        )
    )


# ---------------------------------------------------------------------------
# GROUPING SETS (via the SQL entry point — also exercises spark.sql)
# ---------------------------------------------------------------------------


@q(
    "grouping_sets_revenue",
    """
    SELECT coalesce(l_returnflag, '<all>') AS returnflag,
           coalesce(l_linestatus, '<all>') AS linestatus,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS total
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def _grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through spark.sql — the DataFrame API
    only exposes the cube/rollup special cases, but the engine's SQL
    entry point carries the general form; same Expand-based plan."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, '<all>') AS returnflag,
               coalesce(l_linestatus, '<all>') AS linestatus,
               count(*) AS n,
               round(sum(l_extendedprice), 2) AS total
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# ---------------------------------------------------------------------------
# PIVOT
# ---------------------------------------------------------------------------


@q(
    "pivot_status_counts",
    """
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
)
def _pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts to one column per status. The value list is
    pinned so the plan needs no pre-pass to discover pivot values (at
    scale the discovery pass is a full extra scan)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


# ---------------------------------------------------------------------------
# JSON path extraction
# ---------------------------------------------------------------------------


@q(
    "json_extract_props",
    """
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS k_value,
           CAST(CAST(props->>'$.k' AS INT) % 10 AS BIGINT) AS k_bucket
    FROM events
    """,
)
def _json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path functions over the events.props JSON column —
    get_json_object stays JVM-side (Jackson under codegen), no Python.
    The grok route (grok_parse_props) covers the same column as regex;
    this is the JSON-native path."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id",
        k.alias("k_value"),
        (k % 10).cast("int").alias("k_bucket"),
    )


# ---------------------------------------------------------------------------
# Array higher-order functions
# ---------------------------------------------------------------------------


@q(
    "array_hof_order_quantities",
    """
    WITH g AS (
      SELECT l_orderkey, list_sort(list(l_quantity)) AS qties
      FROM lineitem GROUP BY l_orderkey)
    SELECT l_orderkey,
           qties[1] AS min_qty,
           qties[-1] AS max_qty,
           CAST(len(qties) AS BIGINT) AS n_items,
           round(list_aggregate(qties, 'sum') / len(qties), 4) AS avg_qty,
           round(coalesce(list_aggregate(
             list_filter(qties, x -> x > 25), 'sum'), 0.0), 2) AS big_sum
    FROM g
    """,
)
def _array_hof_order_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + higher-order functions: per-order sorted
    quantity vector, then element_at / size / fold / filter-fold — all
    codegen'd JVM lambdas, no UDFs. collect_list is made deterministic
    by array_sort before any position-sensitive op."""
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_quantity")).alias("qties")
    )
    fold_sum = lambda col: F.aggregate(col, F.lit(0.0), lambda a, x: a + x)
    return g.select(
        "l_orderkey",
        F.element_at("qties", 1).alias("min_qty"),
        F.element_at("qties", -1).alias("max_qty"),
        F.size("qties").cast("long").alias("n_items"),
        F.round(fold_sum(F.col("qties")) / F.size("qties"), 4).alias("avg_qty"),
        F.round(
            fold_sum(F.filter("qties", lambda x: x > 25)), 2
        ).alias("big_sum"),
    )


# ---------------------------------------------------------------------------
# Exact percentiles / dispersion
# ---------------------------------------------------------------------------


@q(
    "percentile_order_value",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(stddev_samp(o_totalprice), 4) AS sd
    FROM orders GROUP BY o_orderstatus
    """,
)
def _percentile_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles + sample stddev. Spark's
    percentile() and DuckDB's quantile_cont use the same interpolation,
    so values agree at round(4). (percentile_approx is the scale path —
    see approx_distinct_users for the sketch-based pattern.)"""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("sd"),
    )


# ---------------------------------------------------------------------------
# RANGE-framed window (time-based sliding aggregate)
# ---------------------------------------------------------------------------


@q(
    "window_range_7day",
    """
    SELECT o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2)
             AS revenue_7day
    FROM orders
    """,
)
def _window_range_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per customer, revenue in the trailing
    7 days (peers at the same timestamp included on both engines —
    RANGE semantics make tie order irrelevant, unlike ROWS)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-604800, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("revenue_7day"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (ntile), latest-row-per-key (CDC view),
# period-over-period deltas — remaining everyday OLAP shapes.
# ---------------------------------------------------------------------------

_NTILE_ORACLE = """
WITH t AS (SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS decile
           FROM events)
SELECT decile, count(*) AS n,
       round(min(value), 2) AS lo, round(max(value), 2) AS hi
FROM t GROUP BY decile
"""


@q("equidepth_deciles", _NTILE_ORACLE)
def _equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth value histogram: decile buckets with bounds — the
    complement of the fixed-width value_histogram. ntile needs a total
    order (one global sort); at scale swap in percentile_approx cut
    points + a narrow bucketing expression — same output contract,
    no global sort. The unique (value, event_id) tiebreak makes both
    engines assign identical deciles."""
    ev = _t(spark, sf_dir, "events")
    w = Window.orderBy("value", "event_id")
    return (
        ev.select("value", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


_LATEST_ORACLE = """
WITH r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
FROM r WHERE rn = 1
"""


@q("latest_event_per_user", _LATEST_ORACLE)
def _latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key: the CDC/upsert compaction view (the batch
    analogue of ES doc overwrite by id, T1). One key-partitioned
    window, deterministic (ts, event_id) tiebreak; at scale this is
    the standard max-timestamp compaction over a key-bucketed table —
    the exchange is reusable by any downstream per-user operator."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
    )


_WOW_ORACLE = """
WITH w AS (SELECT event_type, date_trunc('week', ts) AS wk, count(*) AS n
           FROM events GROUP BY 1, 2),
d AS (SELECT *, lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev
      FROM w)
SELECT event_type, strftime(wk, '%Y-%m-%d') AS week_start, n, prev,
       round((n - prev) * 100.0 / prev, 2) AS pct_change
FROM d
"""


@q("week_over_week_counts", _WOW_ORACLE)
def _week_over_week_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period deltas: weekly event counts per type with
    the percent change against the prior week. The lag window runs on
    the aggregated (type, week) table — thousands of rows at any fact
    scale — never on raw events."""
    ev = _t(spark, sf_dir, "events")
    wk = ev.select("event_type", F.date_trunc("week", "ts").alias("wk"))
    counts = wk.groupBy("event_type", "wk").agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("wk")
    return counts.select(
        "event_type",
        F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
        "n",
        F.lag("n").over(w).alias("prev"),
        F.round(
            (F.col("n") - F.lag("n").over(w)) * 100.0 / F.lag("n").over(w), 2
        ).alias("pct_change"),
    )


# ---------------------------------------------------------------------------
# Table profiling (operators/profile.py)
# ---------------------------------------------------------------------------

_PROFILE_COLS = (
    "o_custkey",
    "o_orderdate",
    "o_orderkey",
    "o_orderpriority",
    "o_orderstatus",
    "o_totalprice",
)


def _profile_arm(c: str) -> str:
    minmax = (
        f"CAST(CAST(min({c}) AS DECIMAL(38,6)) AS VARCHAR) AS min_value,"
        f" CAST(CAST(max({c}) AS DECIMAL(38,6)) AS VARCHAR) AS max_value"
        if c == "o_totalprice"
        else f"CAST(min({c}) AS VARCHAR) AS min_value,"
        f" CAST(max({c}) AS VARCHAR) AS max_value"
    )
    return f"""
    SELECT '{c}' AS column,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           {minmax}
    FROM orders"""


_PROFILE_ORACLE = "\nUNION ALL".join(_profile_arm(c) for c in _PROFILE_COLS)


@q("profile_orders_table", _PROFILE_ORACLE)
def _profile_orders_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column data-quality profile (nulls, exact
    distinct, min/max) — ONE scan + ONE fused Aggregate for all six
    columns; exact mode here so DuckDB can hash-compare (the 100 TB
    default is approx_count_distinct, no Expand)."""
    from ..operators.profile import profile_table

    return profile_table(
        _t(spark, sf_dir, "orders"), list(_PROFILE_COLS), exact=True
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered semi join (operators/bloom.py)
# ---------------------------------------------------------------------------

_BLOOM_HEX = 4
_BLOOM_M = 16**_BLOOM_HEX
_BLOOM_WORDS = _BLOOM_M // 32


def _bloom_bucket_sql(key_expr: str, probe: int) -> str:
    # hex window `probe` of ONE shared md5 (operators/bloom.bloom_bucket)
    return (
        f"('0x' || substr(md5('b:' || {key_expr}), "
        f"{probe * _BLOOM_HEX + 1}, {_BLOOM_HEX}))::BIGINT"
    )


def _bloom_probe_sql(words_cte: str, key_expr: str, probe: int) -> str:
    b = _bloom_bucket_sql(key_expr, probe)
    return f"(({words_cte}.words[({b}) // 32 + 1] >> (({b}) % 32)) & 1) = 1"


_BLOOM_ORACLE = f"""
WITH dim AS (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'),
s0 AS (SELECT {_bloom_bucket_sql('o_orderkey::VARCHAR', 0)} AS b FROM dim),
s1 AS (SELECT {_bloom_bucket_sql('o_orderkey::VARCHAR', 1)} AS b FROM dim),
w0 AS (SELECT b // 32 AS wi, bit_or(CAST(pow(2, b % 32) AS BIGINT)) AS wv
       FROM s0 GROUP BY 1),
w1 AS (SELECT b // 32 AS wi, bit_or(CAST(pow(2, b % 32) AS BIGINT)) AS wv
       FROM s1 GROUP BY 1),
a0 AS (SELECT list(coalesce(wv, 0) ORDER BY i) AS words
       FROM range(0, {_BLOOM_WORDS}) r(i) LEFT JOIN w0 ON w0.wi = r.i),
a1 AS (SELECT list(coalesce(wv, 0) ORDER BY i) AS words
       FROM range(0, {_BLOOM_WORDS}) r(i) LEFT JOIN w1 ON w1.wi = r.i),
pre AS (
  SELECT l.l_orderkey, l.l_extendedprice, l.l_discount
  FROM lineitem l, a0, a1
  WHERE {_bloom_probe_sql('a0', "l.l_orderkey::VARCHAR", 0)}
    AND {_bloom_probe_sql('a1', "l.l_orderkey::VARCHAR", 1)}),
matched AS (SELECT * FROM pre
            WHERE l_orderkey IN (SELECT o_orderkey FROM dim))
SELECT (SELECT count(*) FROM pre) AS n_bloom_pass,
       count(*) AS n_match,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM matched
"""


@q("bloom_pruned_semi_join", _BLOOM_ORACLE)
def _bloom_pruned_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi join (operators/bloom.py): urgent-order
    lineitems via a 2-probe/65536-bit md5 bloom inlined as a literal
    Filter BEFORE the exchange, exact left-semi join after. Output
    pins BOTH counts — n_bloom_pass proves the packed-word filter
    construction matches the SQL replay bit for bit (so the pruning
    itself is value-checked, not just the final result),
    n_match/revenue prove no false negatives against the plain semi
    join."""
    from ..operators.bloom import bloom_prefilter, build_bloom

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    dim = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    words = build_bloom(dim, "o_orderkey", k_probes=2, hex_chars=_BLOOM_HEX)
    pre = bloom_prefilter(
        li, F.col("l_orderkey").cast("string"), words, hex_chars=_BLOOM_HEX
    )
    # one pass for both counts: o_orderkey is unique, so a left join
    # with a hit flag has semi-join semantics without duplicating rows
    # (two agg branches over `pre` would re-evaluate the probe scan)
    flagged = pre.join(
        dim.select(
            F.col("o_orderkey").alias("l_orderkey"), F.lit(1).alias("__hit")
        ),
        "l_orderkey",
        "left",
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_bloom_pass"),
        F.count("__hit").alias("n_match"),
        F.round(
            F.sum(
                F.when(
                    F.col("__hit").isNotNull(),
                    F.col("l_extendedprice") * (1 - F.col("l_discount")),
                )
            ),
            2,
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# LATERAL correlated subquery + UNPIVOT (Spark 3.4+/4 SQL surface)
# ---------------------------------------------------------------------------


@q(
    "lateral_topn_per_order",
    """
    SELECT o.o_orderkey, CAST(t.l_linenumber AS BIGINT) AS l_linenumber,
           round(t.l_extendedprice, 2) AS price
    FROM orders o, LATERAL (
      SELECT l_linenumber, l_extendedprice
      FROM lineitem
      WHERE lineitem.l_orderkey = o.o_orderkey
      ORDER BY l_extendedprice DESC, l_linenumber ASC
      LIMIT 2) t
    WHERE o.o_orderpriority = '1-URGENT'
    """,
)
def _lateral_topn_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery through the SQL entry point: top-2
    lineitems per urgent order. Catalyst decorrelates this into the
    same window-rank plan a hand-written top-N uses — the point is that
    the SQL surface accepts the correlated form and the result is
    value-checked against DuckDB's native LATERAL."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__lat_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__lat_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey, t.l_linenumber,
               round(t.l_extendedprice, 2) AS price
        FROM __lat_orders o, LATERAL (
          SELECT l_linenumber, l_extendedprice
          FROM __lat_lineitem
          WHERE __lat_lineitem.l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber ASC
          LIMIT 2) t
        WHERE o.o_orderpriority = '1-URGENT'
        """
    )


@q(
    "unpivot_measures",
    """
    SELECT measure, count(*) AS n, round(sum(val), 2) AS total
    FROM (
      UNPIVOT (SELECT l_orderkey, l_extendedprice, l_discount, l_tax
               FROM lineitem)
      ON l_extendedprice, l_discount, l_tax INTO NAME measure VALUE val)
    GROUP BY measure
    """,
)
def _unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt (DataFrame.unpivot, Spark 3.4+): wide measure
    columns to (measure, value) rows — the schema normalization step
    feeding generic per-metric aggregation/quality monitors. One
    narrow Expand, no shuffle until the aggregation."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
    )
    up = li.unpivot(
        ["l_orderkey"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    return up.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("val"), 2).alias("total")
    )


# ---------------------------------------------------------------------------
# Keyed upsert table (sinks/upsert.py): the MAINTAINED version of the
# latest_event_per_user view — two CDC batches applied with
# latest-(seq, tiebreak)-wins + tombstones, then read back from disk.
# The oracle is the one-shot latest-row-per-key over ALL events: batch
# split must never change the final state (replay/merge safety).
# ---------------------------------------------------------------------------

_UPSERT_ORACLE = """
WITH r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events WHERE user_id IS NOT NULL)
SELECT user_id, event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       round(value, 2) AS value
FROM r WHERE rn = 1 AND event_type <> 'click'
"""


@q("upsert_latest_state", _UPSERT_ORACLE)
def _upsert_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style keyed upsert sink (sinks/upsert.py): events applied
    as two CDC batches (even/odd event_id — deliberately NOT time-
    ordered) onto a bucketed parquet table, 'click' rows as tombstone
    deletes, then the live state read back. The final state must equal
    the one-shot latest-row-per-key query over all events — proving
    max-seq-wins merge + persisted tombstones make batch order
    irrelevant.

    Scale shape: each apply rewrites only the key buckets the batch
    touches (one bucket-keyed shuffle per batch, crash-safe partition
    swap); read prunes dead keys with a narrow flag filter."""
    import shutil
    import tempfile
    from pathlib import Path

    from ..sinks.upsert import apply_upserts, read_upsert_table

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    ev = ev.filter(F.col("user_id").isNotNull()).withColumn(
        "is_del", F.col("event_type") == "click"
    )
    sf = Path(sf_dir).name or "sf"
    root = Path(tempfile.gettempdir()) / "spark_graft_upsert" / sf
    shutil.rmtree(root, ignore_errors=True)  # fresh apply per run
    for parity in (0, 1):
        apply_upserts(
            spark,
            ev.filter(F.col("event_id") % 2 == parity),
            root,
            key_col="user_id",
            seq_col="ts",
            delete_col="is_del",
            tiebreak_col="event_id",
        )
    state = read_upsert_table(spark, root)
    return state.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.round("value", 2).alias("value"),
    )


# ---------------------------------------------------------------------------
# Declarative data-quality expectations (operators/expectations.py):
# the VERIFY side of profile_orders_table — one row per constraint
# with its measured metric and pass/fail. Row constraints share one
# scan (array-explode over a single Aggregate); the FK check joins
# keys only.
# ---------------------------------------------------------------------------

_DQ_ORACLE = """
WITH t AS (
  SELECT count(*) AS total,
         sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS nn,
         count(DISTINCT o_orderkey) AS uq,
         sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS st,
         sum(CASE WHEN o_totalprice IS NOT NULL
                       AND o_totalprice >= 0 AND o_totalprice <= 400000
                  THEN 1 ELSE 0 END) AS rng,
         sum(CASE WHEN o_orderpriority IS NOT NULL
                       AND regexp_matches(o_orderpriority, '^[1-5]-')
                  THEN 1 ELSE 0 END) AS pri
  FROM orders),
fk AS (
  SELECT count(*) AS n,
         sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS bad
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_custkey IS NOT NULL),
m AS (
  SELECT 'not_null(o_custkey)' AS expectation,
         CAST(nn AS DOUBLE) / total AS raw, 1.0 AS threshold
  FROM t
  UNION ALL
  SELECT 'unique(o_orderkey)', CAST(uq AS DOUBLE) / total, 1.0
  FROM t
  UNION ALL
  SELECT 'in_set(o_orderstatus)', CAST(st AS DOUBLE) / total, 1.0
  FROM t
  UNION ALL
  SELECT 'in_range(o_totalprice)', CAST(rng AS DOUBLE) / total, 0.9
  FROM t
  UNION ALL
  SELECT 'matches(o_orderpriority)', CAST(pri AS DOUBLE) / total, 1.0
  FROM t
  UNION ALL
  SELECT 'foreign_key(o_custkey)', CAST(n - bad AS DOUBLE) / n, 1.0
  FROM fk)
-- passed compares the UNROUNDED metric (a 1-in-2M violation must not
-- round its way past a threshold=1.0 gate); metric is rounded for the
-- cross-engine hash only
SELECT expectation, round(raw, 6) AS metric, threshold,
       raw >= threshold AS passed FROM m
"""


@q("dq_orders_expectations", _DQ_ORACLE)
def _dq_orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate over orders: null/unique/domain/range/regex
    constraints in one scan + an FK check against customer (keys-only
    anti join, broadcast dim). in_range(0..400000) is a deliberately
    sub-1.0 expectation (top orders exceed it) so the passed column
    exercises both outcomes."""
    from ..operators import expectations as E

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    suite = [
        E.not_null("o_custkey"),
        E.unique("o_orderkey"),
        E.in_set("o_orderstatus", ["O", "F", "P"]),
        E.in_range("o_totalprice", 0, 400000, threshold=0.9),
        E.matches("o_orderpriority", "^[1-5]-"),
        E.foreign_key("o_custkey", customer, "c_custkey"),
    ]
    return E.check_expectations(orders, suite)


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM): the SQL-surface
# operator ordinary equi-joins silently drop rows on — NULL keys match
# NULL keys. Keys are synthesized NULL identically on both sides.
# ---------------------------------------------------------------------------

_NSJ_ORACLE = """
WITH ev AS (
  SELECT CASE WHEN event_id % 10 = 0 THEN NULL ELSE user_id END AS k,
         event_id
  FROM events),
dim AS (
  SELECT DISTINCT CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END AS k,
         CASE WHEN user_id % 7 = 0 THEN 'unattributed'
              ELSE 'user-' || CAST(user_id AS VARCHAR) END AS label
  FROM events WHERE user_id IS NOT NULL)
SELECT coalesce(CAST(ev.k AS VARCHAR), '<null>') AS join_key,
       dim.label,
       count(*) AS n_events
FROM ev JOIN dim ON ev.k IS NOT DISTINCT FROM dim.k
GROUP BY 1, 2
"""


@q("null_safe_join_counts", _NSJ_ORACLE)
def _null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (Column.eqNullSafe, SQL `<=>`): the
    "unattributed bucket" pattern — events whose key was nulled out
    still join the dimension's NULL row instead of silently vanishing
    from an inner join. Same broadcast-hash-join plan as plain
    equality (null-safe equality is still an equi-join key for
    Catalyst, not a nested loop)."""
    ev = _t(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 10 == 0, F.lit(None))
        .otherwise(F.col("user_id"))
        .alias("k"),
        "event_id",
    )
    dim = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.when(F.col("user_id") % 7 == 0, F.lit(None))
            .otherwise(F.col("user_id"))
            .alias("k"),
            F.when(F.col("user_id") % 7 == 0, F.lit("unattributed"))
            .otherwise(F.concat(F.lit("user-"), F.col("user_id").cast("string")))
            .alias("label"),
        )
        .distinct()
    )
    joined = ev.join(dim, ev["k"].eqNullSafe(dim["k"]))
    return joined.groupBy(
        F.coalesce(ev["k"].cast("string"), F.lit("<null>")).alias("join_key"),
        "label",
    ).agg(F.count(F.lit(1)).alias("n_events"))


_RATIO_ORACLE = """
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         round(sum(o.o_totalprice), 2) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2)
SELECT region, nation, revenue,
       round(revenue / sum(revenue) OVER (PARTITION BY region), 6)
         AS region_share
FROM rev
"""


@q("ratio_to_region_total", _RATIO_ORACLE)
def _ratio_to_region_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's revenue —
    the percent-of-total window every BI layer asks for. The window
    runs on the AGGREGATED (region, nation) rollup (25 rows), never
    raw facts; shares divide the same ROUNDED revenue on both engines
    so the quotient is bit-identical."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            r["r_name"].alias("region"), n["n_name"].alias("nation")
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias(
            "region_share"
        ),
    )


_ARGMAX_ORACLE = """
SELECT o_custkey,
       arg_max(o_orderkey,
               printf('%020.2f|%010d', o_totalprice, o_orderkey))
         AS biggest_order,
       round(max(o_totalprice), 2) AS biggest_total
FROM orders
GROUP BY o_custkey
"""


@q("argmax_order_per_customer", _ARGMAX_ORACLE)
def _argmax_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax aggregation (F.max_by / DuckDB arg_max): each customer's
    highest-value order id in ONE map-side-combinable aggregate — the
    window-free latest/largest-row-per-key shape (row_number+filter
    pays a full sort; max_by carries one candidate per partial). Ties
    break on the higher order id via a fixed-width composite ordering
    string identical on both engines."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max_by(
            "o_orderkey",
            # fixed-width composite ordering string: lexicographic ==
            # numeric for zero-padded fields, identical on both engines
            # (DuckDB's arg_max rejects struct ordering keys)
            F.format_string(
                "%020.2f|%010d", F.col("o_totalprice"), F.col("o_orderkey")
            ),
        ).alias("biggest_order"),
        F.round(F.max("o_totalprice"), 2).alias("biggest_total"),
    )


_MODE_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2)
SELECT user_id,
       arg_max(event_type, printf('%010d|%s', n, event_type))
         AS modal_type,
       max(n) AS n_modal
FROM c GROUP BY user_id
"""


@q("modal_event_type_per_user", _MODE_ORACLE)
def _modal_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: each user's most frequent event type. The
    built-in mode() is tie-UNDEFINED on both engines, so this is the
    portable form — count rollup, then an argmax whose ordering string
    breaks count ties by the lexicographically larger value. Two
    map-side-combinable aggregations, no window, no sort."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    return c.groupBy("user_id").agg(
        F.max_by(
            "event_type",
            F.format_string("%010d|%s", F.col("n"), F.col("event_type")),
        ).alias("modal_type"),
        F.max("n").alias("n_modal"),
    )


_TOPK_ORACLE = """
WITH r AS (
  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey DESC)
           AS rank
  FROM orders)
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 3
"""


@q("topk_orders_per_customer", _TOPK_ORACLE)
def _topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-light per-key top-k (operators/topk.py): a partition-
    local Arrow prune caps the exchange at partitions x keys x k rows
    before the exact window finish — the map-side combine the plain
    window top-k plan lacks. Output is EXACTLY the window plan's
    (the oracle IS that plan)."""
    from ..operators.topk import topk_per_key

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    return topk_per_key(
        o, "o_custkey", "o_totalprice", k=3, tiebreak_col="o_orderkey"
    )


_WINMATRIX_ORACLE = """
WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
                  round(o_totalprice * 100) AS price_c
           FROM orders)
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(rank() OVER wd AS BIGINT) AS date_rank,
       lag(o_orderkey) OVER w AS lag_k,
       lead(o_orderkey) OVER w AS lead_k,
       CAST(ntile(4) OVER w AS BIGINT) AS nt4,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd,
       first_value(o_orderkey) OVER w AS first_k,
       last_value(o_orderkey) OVER wf AS last_k,
       nth_value(o_orderkey, 2) OVER wf AS nth2,
       CAST(sum(price_c) OVER w3 AS BIGINT) AS mov_sum_c,
       round(sum(price_c) OVER w3 / (count(*) OVER w3 * 100.0), 4)
         AS mov_avg
FROM o
WINDOW
  w  AS (PARTITION BY o_custkey ORDER BY o_orderkey),
  wd AS (PARTITION BY o_custkey ORDER BY o_orderdate),
  wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
  w3 AS (PARTITION BY o_custkey ORDER BY o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""


@q("window_function_matrix", _WINMATRIX_ORACLE)
def _window_function_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking/navigation/frame window-function surface in one
    plan: row_number, rank, lag/lead, ntile, percent_rank, cume_dist,
    first/last/nth_value with explicit frames, and a 3-row sliding
    sum/avg. One shuffle on o_custkey serves every window (same
    partition key); the sliding avg stages through exact cents so both
    engines divide identical integers. ES parity: derivative/moving_avg
    pipeline aggs; reference has no analogue (north-star surface)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).alias("price_c"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    wd = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w3 = w.rowsBetween(-2, 0)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(wd).cast("long").alias("date_rank"),
            F.lag("o_orderkey").over(w).alias("lag_k"),
            F.lead("o_orderkey").over(w).alias("lead_k"),
            F.ntile(4).over(w).cast("long").alias("nt4"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
            F.first("o_orderkey").over(w).alias("first_k"),
            F.last("o_orderkey").over(wf).alias("last_k"),
            F.nth_value("o_orderkey", 2).over(wf).alias("nth2"),
            F.sum("price_c").over(w3).cast("long").alias("mov_sum_c"),
            F.round(
                F.sum("price_c").over(w3)
                / (F.count(F.lit(1)).over(w3) * 100.0),
                4,
            ).alias("mov_avg"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join: both fact tables written bucketed on the
# join key, then joined WITHOUT any exchange — the physical pattern
# that turns the biggest shuffle in a 100 TB pipeline into a local
# merge (tests/test_bucketed.py pins the exchange-free plan).
# ---------------------------------------------------------------------------

_BUCKETED_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""

_N_BUCKETS = 8


def build_bucketed_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Write orders+lineitem bucketed by the join key into external
    tables (idempotent per sf_dir; re-running overwrites). Returns
    the two table names. At 100 TB this is the one-off layout job
    that every later join amortizes."""
    import re
    import tempfile
    from pathlib import Path

    sf = re.sub(r"\W", "_", Path(sf_dir).name) or "root"
    root = Path(tempfile.gettempdir()) / "spark_graft_bucketed" / sf
    t_ord, t_li = f"sg_ord_bkt_{sf}", f"sg_li_bkt_{sf}"
    ord_df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li_df = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("qty")
    )
    def _write(name: str, df: DataFrame, key: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.format("parquet")
            .bucketBy(_N_BUCKETS, key)
            .sortBy(key)
            .option("path", str(root / name))
            .mode("overwrite")
            .saveAsTable(name)
        )

    # the two layout writes are independent jobs on distinct tables —
    # submit them concurrently so their (small) task waves and commit
    # phases overlap instead of serializing
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(2) as ex:
        futs = [
            ex.submit(inheritable_thread_target(spark)(_write), *args)
            for args in (
                (t_ord, ord_df, "o_orderkey"),
                (t_li, li_df, "l_orderkey"),
            )
        ]
        for f in futs:
            f.result()
    return t_ord, t_li


@q("bucketed_orders_join", _BUCKETED_ORACLE)
def _bucketed_orders_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders JOIN lineitem per-status rollup over tables bucketed on
    the join key: the sort-merge join consumes the bucketing, so the
    plan has NO exchange below the final 3-row aggregation.

    Scale shape: this is the bucketing recipe from the 100 TB design
    notes made executable — pre-partitioned layout + merge hint =
    shuffle-free fact-to-fact join; only the partial-agg output (one
    row per status per task) moves. The write itself is the one-off
    cost a real deployment pays at ingest."""
    t_ord, t_li = build_bucketed_tables(spark, sf_dir)
    o = spark.table(t_ord).hint("merge")
    li = spark.table(t_li)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("qty").alias("sum_qty"),
        )
    )
