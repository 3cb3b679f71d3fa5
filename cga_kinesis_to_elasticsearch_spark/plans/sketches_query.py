"""Declared queries for mergeable sketch rollups (operators/sketches.py).

`sketch_daily_users` and `sketch_user_overlap` carry REAL value oracles:
at sf0.01 cardinalities DataSketches HLL/theta sketches remain in their
exact (coupon/hash-table) phase, where the estimate equals the true
distinct count — so exact COUNT(DISTINCT) SQL is a valid oracle and the
whole sketch pipeline (agg → store → union/intersect → estimate) gets a
hash-compared check, not just rows-only. `test_sketches.py` pins the
error-bound and merge-associativity properties that carry to the
estimating regime at scale.

`sketch_range_quantiles` runs under the exact oracle: a k=32768 KLL
sketch retains every value at sf0.01 row counts, where its
inclusive-rank quantile equals DuckDB's quantile_disc. At sf0.1+ the
sketch leaves its exact phase and compacts (p95 drifts ~0.01% — within
the KLL guarantee pinned in test_sketches.py); the exact-oracle
contract is sf0.01-only BY DESIGN — approximation is the point of the
sketch at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.sketches import (
    hll_day_sketches,
    kll_day_sketches,
    kll_range_quantiles,
    theta_day_sketches,
    theta_overlap,
)
from .declared import _t, q

FULL_RANGE = ("1990-01-01", "2099-12-31")


@q(
    "sketch_daily_users",
    """
    SELECT CAST(ts AS DATE)::VARCHAR AS day,
           count(DISTINCT user_id) AS distinct_est
    FROM events GROUP BY 1
    """,
)
def _sketch_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day HLL sketch rollup; the stored-sketch layout that answers
    any-range distinct queries without fact rescans (DESIGN.md §7)."""
    ev = _t(spark, sf_dir, "events")
    return hll_day_sketches(ev, "ts", "user_id").select("day", "distinct_est")


@q(
    "sketch_user_overlap",
    """
    WITH d AS (SELECT CAST(ts AS DATE)::VARCHAR AS day, user_id FROM events),
    bounds AS (SELECT min(day) AS a, max(day) AS b FROM d)
    SELECT a AS day_a, b AS day_b,
      (SELECT count(DISTINCT user_id) FROM d WHERE day = (SELECT a FROM bounds)
         AND user_id IN (SELECT user_id FROM d WHERE day = (SELECT b FROM bounds))) AS returning,
      (SELECT count(DISTINCT user_id) FROM d WHERE day = (SELECT a FROM bounds)
         AND user_id NOT IN (SELECT user_id FROM d WHERE day = (SELECT b FROM bounds))) AS churned,
      (SELECT count(DISTINCT user_id) FROM d WHERE day = (SELECT b FROM bounds)
         AND user_id NOT IN (SELECT user_id FROM d WHERE day = (SELECT a FROM bounds))) AS new
    FROM bounds
    """,
)
def _sketch_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returning/churned/new users between the first and last day,
    computed purely from two stored theta sketches (set algebra on
    sketch state — no fact rescan)."""
    ev = _t(spark, sf_dir, "events")
    sk = theta_day_sketches(ev, "ts", "user_id")
    lo, hi = sk.agg(F.min("day"), F.max("day")).first()
    return theta_overlap(sk, lo, hi)


@q(
    "sketch_range_quantiles",
    f"""
    SELECT '{FULL_RANGE[0]}' AS day_from, '{FULL_RANGE[1]}' AS day_to,
           count(*) AS n,
           quantile_disc(value, 0.5) AS p50,
           quantile_disc(value, 0.95) AS p95,
           quantile_disc(value, 0.99) AS p99
    FROM events
    """,
)
def _sketch_range_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Any-range percentiles from merged per-day KLL sketches. Oracle
    is EXACT quantile_disc: at sf0.01 row counts a k=32768 KLL sketch
    retains every value (no compaction, merges included), and
    Datasketches' inclusive-rank quantile then equals the discrete
    quantile (probed identical for ceil(q*n) ranks). At 100 TB the
    identical plan answers from KB-scale stored sketches with the
    published KLL error bound — pinned in test_sketches.py."""
    ev = _t(spark, sf_dir, "events")
    sk = kll_day_sketches(ev, "ts", "value", k=32768)
    return kll_range_quantiles(sk, *FULL_RANGE)


_CM_DEPTH, _CM_HEX = 4, 2
_CM_PROBES = 25  # probe the first N user ids

_CM_ORACLE = f"""
WITH rows AS (SELECT unnest(range({_CM_DEPTH})) AS row),
keyed AS (SELECT CAST(user_id AS VARCHAR) AS k, row
          FROM events, rows),
sk AS (SELECT row,
              substring(md5('r' || CAST(row AS VARCHAR) || ':' || k),
                        1, {_CM_HEX}) AS bucket,
              count(*) AS cnt
       FROM keyed GROUP BY row, bucket),
probes AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key
           FROM events WHERE user_id < {_CM_PROBES}),
pb AS (SELECT p.key, r.row,
              substring(md5('r' || CAST(r.row AS VARCHAR) || ':' || p.key),
                        1, {_CM_HEX}) AS bucket
       FROM probes p, rows r)
SELECT pb.key, min(coalesce(sk.cnt, 0)) AS est_count
FROM pb LEFT JOIN sk ON pb.row = sk.row AND pb.bucket = sk.bucket
GROUP BY pb.key
"""


@q("cm_user_frequencies", _CM_ORACLE)
def _cm_user_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch (operators/sketches.cm_sketch): the
    mergeable FREQUENCY family beside HLL (distinct), KLL (quantiles)
    and theta (set algebra). Per-user occurrence estimates for probe
    keys come from the depth x 256 counter table — biased high only;
    the oracle replays the identical md5 bucket arithmetic, so this is
    value-checked, unlike engine-specific sketch blobs. Error bound vs
    exact counts is pinned in test_sketches.py."""
    from ..operators.sketches import cm_estimate, cm_sketch

    ev = _t(spark, sf_dir, "events")
    sk = cm_sketch(ev, "user_id", depth=_CM_DEPTH, width_hex_chars=_CM_HEX)
    probes = ev.filter(F.col("user_id") < _CM_PROBES).select("user_id").distinct()
    return cm_estimate(
        sk, probes, "user_id", depth=_CM_DEPTH, width_hex_chars=_CM_HEX
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (operators/heavyhitters.py): exact per-half
# counts -> prune to k -> merge -> prune, replayed step-for-step in SQL.
# The prune threshold is the (k+1)-th largest VALUE — a multiset
# property, so no tie-breaking and full determinism on both engines.
# ---------------------------------------------------------------------------

_HH_K = 20

_HH_ORACLE = f"""
WITH ca AS (
  SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt
  FROM events WHERE user_id IS NOT NULL AND event_id % 2 = 0 GROUP BY 1),
ta AS (
  SELECT CASE WHEN (SELECT count(*) FROM ca) >= {_HH_K + 1}
              THEN (SELECT min(cnt) FROM
                    (SELECT cnt FROM ca ORDER BY cnt DESC LIMIT {_HH_K + 1}))
              ELSE 0 END AS thr),
pa AS (SELECT key, cnt - ta.thr AS cnt, ta.thr AS deficit
       FROM ca, ta WHERE cnt > ta.thr),
cb AS (
  SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt
  FROM events WHERE user_id IS NOT NULL AND event_id % 2 = 1 GROUP BY 1),
tb AS (
  SELECT CASE WHEN (SELECT count(*) FROM cb) >= {_HH_K + 1}
              THEN (SELECT min(cnt) FROM
                    (SELECT cnt FROM cb ORDER BY cnt DESC LIMIT {_HH_K + 1}))
              ELSE 0 END AS thr),
pb AS (SELECT key, cnt - tb.thr AS cnt, tb.thr AS deficit
       FROM cb, tb WHERE cnt > tb.thr),
da AS (SELECT coalesce(max(deficit), 0) AS d FROM pa),
db AS (SELECT coalesce(max(deficit), 0) AS d FROM pb),
m AS (
  SELECT coalesce(pa.key, pb.key) AS key,
         coalesce(pa.cnt, 0) + coalesce(pb.cnt, 0) AS cnt
  FROM pa FULL OUTER JOIN pb ON pa.key = pb.key),
tm AS (
  SELECT CASE WHEN (SELECT count(*) FROM m) >= {_HH_K + 1}
              THEN (SELECT min(cnt) FROM
                    (SELECT cnt FROM m ORDER BY cnt DESC LIMIT {_HH_K + 1}))
              ELSE 0 END AS thr)
SELECT m.key, CAST(m.cnt - tm.thr AS BIGINT) AS cnt,
       CAST(da.d + db.d + tm.thr AS BIGINT) AS deficit
FROM m, tm, da, db WHERE m.cnt > tm.thr
"""


@q("heavy_hitters_merge", _HH_ORACLE)
def _heavy_hitters_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Misra-Gries top-k (operators/heavyhitters.py): the
    event stream split into two halves (the stand-in for two stored
    per-day summaries), each reduced to a k-entry summary, then merged
    and re-pruned — the roll-up path sinks/hhmaint.py runs per batch.
    Every key with true frequency > N/(k+1) is guaranteed present;
    ``deficit`` bounds each counter's undercount. The oracle replays
    count/prune/merge/prune step-for-step.

    Scale shape: each half's counts are one map-side-combined
    aggregation; the prune threshold is a global top-(k+1)
    (TakeOrderedAndProject, no full sort) collapsed to one broadcast
    row; the merge joins two <= k-row summaries. Facts are scanned
    once per half and never move.

    The two half summaries are independent and each prune runs an
    eager checkpoint action, so they build from a 2-thread pool (the
    bucketed-layout-write pattern) instead of serializing two driver
    round-trips."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from ..operators.heavyhitters import exact_counts, mg_merge

    ev = _t(spark, sf_dir, "events")
    with ThreadPoolExecutor(2) as ex:
        fa, fb = (
            ex.submit(
                inheritable_thread_target(spark)(exact_counts),
                ev.filter(F.col("event_id") % 2 == parity),
                "user_id",
                _HH_K,
            )
            for parity in (0, 1)
        )
        a, b = fa.result(), fb.result()
    return mg_merge(a, b, _HH_K)


@q(
    "cumulative_cardinality_users",
    """
    WITH d AS (SELECT CAST(ts AS DATE)::VARCHAR AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM d)
    SELECT days.day,
      (SELECT count(DISTINCT user_id) FROM d WHERE d.day <= days.day)
        AS cumulative_users,
      (SELECT count(DISTINCT user_id) FROM d d2 WHERE d2.day = days.day
         AND user_id NOT IN (SELECT user_id FROM d d3
                             WHERE d3.day < days.day)) AS new_users
    FROM days ORDER BY days.day
    """,
)
def _cumulative_cardinality_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ES ``cumulative_cardinality`` pipeline agg (the "total distinct
    users to date" curve incremental dashboards plot): per-day HLL
    sketches merged over an EXPANDING window (``hll_union_agg`` over
    unbounded-preceding rows) give the running distinct count, and
    ``new_users`` is its first difference — the exact question "how
    many users were first seen today" answered without ever comparing
    user sets.

    Scale shape: one day-keyed partial-agg shuffle builds the daily
    sketches; the window runs over the DAY-COUNT-sized sketch frame
    (KB-scale state, like every pipeline agg), never the fact rows.
    Oracle is the exact cumulative distinct (lgK=14 sketches are in
    their exact coupon phase at sf0.01 cardinalities — same
    convention as approx_distinct_users)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.withColumn(
        "cumulative_users",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)),
    )
    lagw = Window.orderBy("day")
    return (
        cum.withColumn(
            "new_users",
            F.col("cumulative_users")
            - F.coalesce(
                F.lag("cumulative_users").over(lagw), F.lit(0)
            ),
        )
        .select("day", "cumulative_users", "new_users")
        .orderBy("day")
    )
