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
