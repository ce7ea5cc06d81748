"""Shared expression helpers used across the query inventory."""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dsum(col: str | Column, alias: str) -> Column:
    """Order-independent exact SUM of a 2-decimal money column.

    Sums in DECIMAL(18,2) (exact, associative) then casts to DOUBLE so
    the output schema is stable across engines. DuckDB twin:
    ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS alias``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,2)")).cast("double").alias(alias)


def davg(col: str | Column, alias: str) -> Column:
    """Exact decimal-sum / count average, emitted as DOUBLE.

    DuckDB twin: ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)
    / COUNT(x) AS alias`` — both engines then perform the identical
    double/int64 division.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast("decimal(18,2)")).cast("double") / F.count(c)).alias(alias)


SQL_DSUM = "CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"
SQL_DAVG = "CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({col})"

# Casting a double PRODUCT to decimal is unsafe across engines: true
# 4-decimal products land exactly on .xx5 ties, and Spark (Java shortest
# double repr, HALF_UP) and DuckDB (binary value, round-to-nearest) break
# them differently. A double holding a value with <= 2 true decimals is
# safe to cast (nearest 2-dec value is unambiguous), so: cast FACTORS to
# decimal, multiply in decimal (exact), then sum.
def disc_price_dec() -> Column:
    """(l_extendedprice * (1 - l_discount)) as an exact DECIMAL(25,4)."""
    return F.col("l_extendedprice").cast("decimal(12,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(12,2)")


def charge_dec() -> Column:
    """(price * (1-disc) * (1+tax)) as an exact DECIMAL(38,6)."""
    return disc_price_dec() * (1 + F.col("l_tax")).cast("decimal(12,2)")


SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))"
)
SQL_CHARGE = SQL_DISC_PRICE + " * CAST(1 + l_tax AS DECIMAL(12,2))"


def set_gate(
    cols: list[str],
    ref: DataFrame,
    *,
    same: Sequence[tuple[DataFrame, int]] = (),
    recall: Sequence[tuple[DataFrame, float, int]] = (),
) -> DataFrame:
    """``(probe_id long, ok boolean)`` rows comparing frames with
    ``ref`` as sets on ``cols``, one row per probe.

    - ``same=[(frame, probe_id)]``: ok when ``frame`` and ``ref`` hold
      the same set (no group on one side only).
    - ``recall=[(frame, bound, probe_id)]``: ok when
      ``|frame ∩ ref| >= bound * |ref|``.

    Every side is tagged with its own bit (``ref`` 1, the i-th frame
    after it ``1 << i``) and the union is aggregated once:
    ``groupBy(cols)`` ORs the bits, then one global aggregate counts
    each probe's groups. Each input is read once, through one exchange
    and no join, so nothing needs a persist or a broadcast.

    Each side is a SET on ``cols``, so a duplicated row changes no
    answer. Every recall caller passes top-k or pair lists that are
    unique on ``cols``, so its distinct-group counts equal row counts.
    NULLs compare equal in ``groupBy`` (a NULL key present on both
    sides matches), unlike an equi-join anti-join."""
    sides = [ref] + [f for f, _ in same] + [f for f, _, _ in recall]
    tagged = reduce(
        DataFrame.unionByName,
        [
            s.select(*cols, F.lit(1 << i).cast("long").alias("__tag"))
            for i, s in enumerate(sides)
        ],
    )
    groups = tagged.groupBy(*cols).agg(F.bit_or("__tag").alias("__m"))

    def has(i: int) -> Column:
        return F.col("__m").bitwiseAND(1 << i) != 0

    probes = [(pid, F.count_if(has(0) != has(i)) == 0)
              for i, (_, pid) in enumerate(same, start=1)]
    probes += [
        (pid, F.count_if(has(0) & has(i)) >= F.count_if(has(0)) * bound)
        for i, (_, bound, pid) in enumerate(recall, start=1 + len(same))
    ]
    rows = F.array(*[
        F.struct(F.lit(pid).cast("long").alias("probe_id"), ok.alias("ok"))
        for pid, ok in probes
    ])
    return groups.agg(rows.alias("__p")).select(F.inline("__p"))


def welch_from_power_sums(df):
    """Welch t-test output columns from a rollup carrying the exact
    per-variant power sums (na, nb, sxa, sxb, sxxa, sxxb as DOUBLE-cast
    exact sums) plus any leading key columns. Shared by the batch b88
    aggregate and the streaming s44 monitor — the power sums are the
    MERGEABLE state; this is the serve-time formula, one identical
    double expression in Spark and the DuckDB oracle."""
    from pyspark.sql import functions as F

    d = lambda c: F.col(c).cast("double")  # noqa: E731
    w = df.select(
        *[c for c in df.columns if c not in
          ("na", "nb", "sxa", "sxb", "sxxa", "sxxb")],
        "na",
        "nb",
        (F.col("sxa") / d("na")).alias("ma"),
        (F.col("sxb") / d("nb")).alias("mb"),
        (
            (F.col("sxxa") - F.col("sxa") * F.col("sxa") / d("na"))
            / (d("na") - 1.0)
            / d("na")
        ).alias("sea"),
        (
            (F.col("sxxb") - F.col("sxb") * F.col("sxb") / d("nb"))
            / (d("nb") - 1.0)
            / d("nb")
        ).alias("seb"),
    )
    t = (F.col("ma") - F.col("mb")) / F.sqrt(F.col("sea") + F.col("seb"))
    return w.select(
        *[c for c in w.columns if c not in
          ("na", "nb", "ma", "mb", "sea", "seb")],
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round("ma", 6).alias("mean_a"),
        F.round("mb", 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(
            (F.col("sea") + F.col("seb"))
            * (F.col("sea") + F.col("seb"))
            / (
                F.col("sea") * F.col("sea") / (F.col("na") - F.lit(1.0))
                + F.col("seb") * F.col("seb") / (F.col("nb") - F.lit(1.0))
            ),
            6,
        ).alias("welch_df"),
        (F.abs(t) >= 1.96).alias("significant"),
    )


#: The SCD2 merge-with-suppression scenario oracle, shared by the
#: batch entry (b84) and its streaming twin (s48): the final dimension
#: must be identical whether the observation feed arrives as one batch
#: or as time-ordered micro-batches.
SCD2_MERGE_ORACLE = """
WITH seed AS (
  SELECT c_custkey, c_mktsegment, TIMESTAMP '2023-01-01 00:00:00' AS ts,
         0 AS src
  FROM customer
), obs AS (
  SELECT c_custkey, 'S' || CAST(c_custkey % 3 AS VARCHAR),
         TIMESTAMP '2024-02-01 00:00:00', 1
  FROM customer WHERE c_custkey % 4 = 1
  UNION ALL
  SELECT c_custkey, 'T' || CAST(c_custkey % 3 AS VARCHAR),
         TIMESTAMP '2024-03-01 00:00:00', 1
  FROM customer WHERE c_custkey % 8 = 5
  UNION ALL
  SELECT c_custkey, c_mktsegment,
         TIMESTAMP '2024-02-01 00:00:00', 1
  FROM customer WHERE c_custkey % 10 = 2
  UNION ALL
  SELECT -c_custkey, 'NEWSEG',
         TIMESTAMP '2024-02-01 00:00:00', 1
  FROM customer WHERE c_custkey % 10 = 3
), tl AS (
  SELECT * FROM seed UNION ALL SELECT * FROM obs
), m AS (
  SELECT *, LAG(c_mktsegment) OVER (
    PARTITION BY c_custkey ORDER BY ts, src) AS prev
  FROM tl
), surv AS (
  SELECT c_custkey, c_mktsegment, ts, src FROM m
  WHERE NOT (src = 1 AND c_mktsegment IS NOT DISTINCT FROM prev)
), fin AS (
  SELECT c_custkey, c_mktsegment,
         ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY c_custkey ORDER BY ts, src)
           AS valid_to,
         LEAD(ts) OVER (PARTITION BY c_custkey ORDER BY ts, src) IS NULL
           AS is_current
  FROM surv
)
SELECT * FROM fin
UNION ALL
SELECT c_custkey, 'ANCIENT' AS c_mktsegment,
       TIMESTAMP '2022-01-01 00:00:00' AS valid_from,
       TIMESTAMP '2023-01-01 00:00:00' AS valid_to,
       FALSE AS is_current
FROM customer WHERE c_custkey % 10 = 7
"""


#: The sessionization (30-minute inactivity gap) oracle, shared by
#: the batch entry (b25) and its streaming twin (s25).
SESSION_WINDOW_ORACLE = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS brk
  FROM events
), g AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, MIN(ts) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id, sid
"""


#: The last-touch attribution oracle, shared by the batch entry
#: (b87) and its streaming twin (s43).
LAST_TOUCH_ORACLE = f"""
WITH seq AS (
  SELECT user_id, ts, event_type, value,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_ts
  FROM events
), attrib AS (
  SELECT CASE WHEN touch_ts IS NOT NULL
               AND ts - touch_ts <= INTERVAL 7 DAY
              THEN touch_type ELSE 'direct' END AS channel,
         value
  FROM seq WHERE event_type = 'purchase'
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       {SQL_DSUM.format(col="value")} AS revenue
FROM attrib GROUP BY channel
"""


#: The A/B Welch t-test oracle, shared by the batch entry
#: (b88) and its streaming twin (s44).
WELCH_TTEST_ORACLE = """
WITH q AS (
  SELECT event_type, user_id % 2 AS g,
         CAST(value AS DECIMAL(18,2)) AS x
  FROM events
), s AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN g = 0 THEN x END) AS DOUBLE) AS sxa,
         CAST(SUM(CASE WHEN g = 1 THEN x END) AS DOUBLE) AS sxb,
         CAST(SUM(CASE WHEN g = 0 THEN x * x END) AS DOUBLE) AS sxxa,
         CAST(SUM(CASE WHEN g = 1 THEN x * x END) AS DOUBLE) AS sxxb
  FROM q GROUP BY event_type
), w AS (
  SELECT event_type, na, nb,
         sxa / na AS ma, sxb / nb AS mb,
         (sxxa - sxa * sxa / na) / (na - 1.0) / na AS sea,
         (sxxb - sxb * sxb / nb) / (nb - 1.0) / nb AS seb
  FROM s
)
SELECT event_type, na AS n_a, nb AS n_b,
       ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
       ROUND((ma - mb) / sqrt(sea + seb), 6) AS t_stat,
       ROUND((sea + seb) * (sea + seb)
             / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)), 6)
         AS welch_df,
       abs((ma - mb) / sqrt(sea + seb)) >= 1.96 AS significant
FROM w
"""


#: The multi-touch attribution oracle, shared by the batch entry
#: (b119) and its streaming twin (s57).
MULTITOUCH_ORACLE = """
WITH purch AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts, value
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT p.p_id, p.value, e.event_type AS channel,
         ROW_NUMBER() OVER (PARTITION BY p.p_id
                            ORDER BY e.ts, e.event_id) AS rn,
         COUNT(*) OVER (PARTITION BY p.p_id) AS n
  FROM purch p JOIN events e
    ON e.user_id = p.user_id
   AND e.event_type IN ('view', 'click', 'signup')
   AND e.ts < p.p_ts
   AND e.ts >= p.p_ts - INTERVAL 7 DAY
), credited AS (
  SELECT channel,
         CAST(ROUND(value * (CASE WHEN n = 1 THEN 1.0
                                  WHEN n = 2 THEN 0.5
                                  WHEN rn = 1 OR rn = n THEN 0.4
                                  ELSE 0.2 / (n - 2) END) * 1e6) AS BIGINT)
           AS cr
  FROM touch
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(cr) AS BIGINT) / 1e6 AS credited_value
FROM credited GROUP BY 1 ORDER BY 1
"""


#: The new-user activity counts oracle, shared by the KQL entry
#: (k82) and its streaming twin (s53).
ACTIVITY_COUNTS_ORACLE = """
WITH bins AS (
  SELECT unnest(generate_series(0, 27)) AS k
), ev AS (
  SELECT CAST(FLOOR(EXTRACT(EPOCH FROM ts - TIMESTAMP '2024-01-01 00:00:00')
                    / 86400) AS BIGINT) AS k, user_id
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
    AND ts <  TIMESTAMP '2024-01-29 00:00:00'
), per AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS count,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dcount
  FROM ev GROUP BY 1
), fs AS (
  SELECT user_id, MIN(k) AS k FROM ev GROUP BY 1
), nw AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS new_dcount FROM fs GROUP BY 1
)
SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (b.k) DAY AS Timestamp,
       COALESCE(per.count, 0) AS count,
       COALESCE(per.dcount, 0) AS dcount,
       COALESCE(nw.new_dcount, 0) AS new_dcount,
       CAST(SUM(COALESCE(nw.new_dcount, 0)) OVER (ORDER BY b.k) AS BIGINT)
         AS aggregated_dcount
FROM bins b
LEFT JOIN per ON per.k = b.k
LEFT JOIN nw ON nw.k = b.k
"""


#: The view → click → purchase sequence detection oracle, shared by
#: the KQL entry (k72) and its streaming twin (s51).
SEQUENCE_DETECT_ORACLE = """
WITH RECURSIVE coded AS (
  SELECT user_id, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         event_type = 'view' AS f1,
         event_type = 'click' AS f2,
         event_type = 'purchase' AS f3
  FROM events
), walk AS (
  SELECT user_id, CAST(0 AS BIGINT) AS rn, 0 AS cur,
         CAST(NULL AS TIMESTAMP) AS t1, CAST(NULL AS TIMESTAMP) AS tprev,
         CAST(NULL AS TIMESTAMP) AS s2, CAST(NULL AS TIMESTAMP) AS e1,
         CAST(NULL AS TIMESTAMP) AS e2, CAST(NULL AS TIMESTAMP) AS e3,
         FALSE AS emit
  FROM (SELECT DISTINCT user_id FROM coded)
  UNION ALL
  SELECT c.user_id, c.rn,
         CASE WHEN nd AND wok AND w.cur = 2 THEN 0
              WHEN nd AND wok THEN w.cur + 1
              WHEN nd AND NOT wok AND c.f1 THEN 1
              WHEN nd AND NOT wok THEN 0
              ELSE w.cur END,
         CASE WHEN nd AND wok AND w.cur = 2 THEN NULL
              WHEN nd AND wok AND w.cur = 0 THEN c.ts
              WHEN nd AND wok THEN w.t1
              WHEN nd AND NOT wok AND c.f1 THEN c.ts
              WHEN nd AND NOT wok THEN NULL
              ELSE w.t1 END,
         CASE WHEN nd AND wok AND w.cur = 2 THEN NULL
              WHEN nd AND wok THEN c.ts
              WHEN nd AND NOT wok AND c.f1 THEN c.ts
              WHEN nd AND NOT wok THEN NULL
              ELSE w.tprev END,
         CASE WHEN nd AND wok AND w.cur = 2 THEN NULL
              WHEN nd AND wok AND w.cur = 1 THEN c.ts
              WHEN nd AND wok THEN w.s2
              WHEN nd AND NOT wok THEN NULL
              ELSE w.s2 END,
         CASE WHEN nd AND wok AND w.cur = 2 THEN w.t1 END,
         CASE WHEN nd AND wok AND w.cur = 2 THEN w.s2 END,
         CASE WHEN nd AND wok AND w.cur = 2 THEN c.ts END,
         COALESCE(nd AND wok AND w.cur = 2, FALSE)
  FROM walk w
  JOIN coded c ON c.user_id = w.user_id AND c.rn = w.rn + 1
  CROSS JOIN LATERAL (SELECT
      CASE w.cur WHEN 0 THEN c.f1 WHEN 1 THEN c.f2 ELSE c.f3 END AS nd,
      (w.cur = 0 OR (c.ts <= w.tprev + INTERVAL 24 HOUR
                     AND c.ts <= w.t1 + INTERVAL 96 HOUR)) AS wok) x
)
SELECT user_id, e1 AS f1_ts, e2 AS f2_ts, e3 AS f3_ts
FROM walk WHERE emit
"""
