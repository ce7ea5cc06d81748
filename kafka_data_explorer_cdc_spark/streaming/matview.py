"""Incremental materialized-view maintenance over a CDC stream.

The reference's downstream (ADX) re-aggregates the full append-only
change table on every dashboard query (``README.md:366-389``). The
warehouse-native upgrade is a MAINTAINED aggregate: each micro-batch
applies only its delta to the stored per-group aggregate, so a
dashboard read is O(groups) and ingest cost is O(batch), independent of
total history — the shape every streaming-warehouse system (Delta Live
Tables, Materialize, Flink dynamic tables) implements for SUM/COUNT
views.

The view rides :class:`ParquetStateSink`'s ``on_merge`` hook, so the
ONE merge computation the state sink already performs feeds both the
state write and the view delta (an earlier version re-derived the
merge for the view — 2x the window work and state reads per batch):

- ``cur``  = pre-merge rows of the touched buckets;
- ``merged`` = post-merge rows (persisted — cache hit, not recompute);
- ``delta[group] = agg(live(merged)) − agg(live(cur))``. Rows of
  untouched keys appear identically on both sides and cancel exactly
  (COUNT and DECIMAL sums are order-independent), so no per-key join
  or key-set collect is needed at all;
- stored view += delta (full-outer join on group), written as
  ``agg_view/v{version}`` for the state version the merge commits.

Crash/replay safety comes from the state log alone. The view is read
from the newest committed ``agg_view`` dir
(:meth:`ManifestLog.committed`), so a view written by a batch that
crashed before its state commit is never read, and state and view
commit together. A replayed batch — same batch id, or a restarted
stream's repeated one — finds its effects already in ``cur``, so
``merged == cur`` and the delta is exactly zero. SUM/COUNT are
self-inverting under deltas; MIN/MAX are not (a delete can require a
rescan) — this sink is the algebraic-aggregate form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import ParquetStateSink


class AggViewSink:
    """Maintains ``SELECT group_col, COUNT(*), SUM(value_col) GROUP BY
    group_col`` over the live CDC state, incrementally, as a derived
    artifact of a :class:`ParquetStateSink` (which remains the source
    of truth and the replay/idempotence anchor). ``n_buckets`` is the
    state sink's (default: one per core, recorded in the manifest)."""

    def __init__(
        self,
        spark: SparkSession,
        state_root: str,
        key_cols: list[str],
        group_col: str,
        value_col: str,
        n_buckets: int | None = None,
    ):
        self.spark = spark
        self.inner = ParquetStateSink(
            spark, state_root, key_cols, n_buckets, on_merge=self._maintain
        )
        self.group_col = group_col
        self.value_col = value_col

    # -- sink surface -----------------------------------------------
    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.inner.apply_batch(batch, batch_id)

    def current(self) -> DataFrame | None:
        return self.inner.current()

    # -- view storage -----------------------------------------------
    def _stored(self) -> DataFrame | None:
        """The view as of the committed state: the newest committed
        ``agg_view`` dir, written by the last version that merged."""
        dirs = self.inner.log.committed("agg_view")
        if not dirs:
            return None
        return self.spark.read.parquet(dirs[max(dirs)])

    def view(self) -> DataFrame | None:
        """The maintained aggregate (groups with count 0 dropped)."""
        df = self._stored()
        if df is None:
            return None
        return df.filter(F.col("n_rows") > 0).select(
            F.col(self.group_col),
            F.col("n_rows"),
            F.col("sum_dec").cast("double").alias("sum_value"),
        )

    # -- the on_merge hook ------------------------------------------
    def _agg(self, df: DataFrame) -> DataFrame:
        return df.filter(F.col("op") != "d").groupBy(self.group_col).agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col(self.value_col).cast("decimal(18,2)")).alias("sum_dec"),
        )

    def _maintain(
        self, cur: DataFrame | None, merged: DataFrame, version: int
    ) -> None:
        g = self.group_col
        if cur is None:
            delta = self._agg(merged).select(
                g,
                F.col("n_rows").alias("d_rows"),
                F.col("sum_dec").alias("d_sum"),
            )
        else:
            # ONE signed aggregation instead of agg(merged) ⋈ agg(cur)
            # (optimization round 13): live post rows weigh +1, live
            # pre rows −1; per group, sum(w) = count_new − count_old
            # and sum(w·value) = sum_new − sum_old exactly (COUNT and
            # DECIMAL sums are order-free and exact), over the same
            # group set (a group appears iff it has a live row on
            # either side). Halves the aggregation shuffles and drops
            # the full-outer join per micro-batch.
            live = F.col("op") != "d"
            signed = merged.filter(live).withColumn(
                "__w", F.lit(1)
            ).unionByName(
                cur.filter(live).withColumn("__w", F.lit(-1)),
                allowMissingColumns=True,
            )
            val = F.col(self.value_col).cast("decimal(18,2)")
            delta = signed.groupBy(g).agg(
                F.sum("__w").cast("long").alias("d_rows"),
                F.sum(
                    F.when(F.col("__w") > 0, val).otherwise(-val)
                ).alias("d_sum"),
            )
        prior = self._stored()
        if prior is None:
            updated = delta.select(
                g,
                F.col("d_rows").cast("long").alias("n_rows"),
                F.col("d_sum").cast("decimal(18,2)").alias("sum_dec"),
            )
        else:
            updated = (
                prior.alias("p")
                .join(delta.alias("d"), F.col(f"p.{g}").eqNullSafe(F.col(f"d.{g}")), "full_outer")
                .select(
                    F.coalesce(F.col(f"p.{g}"), F.col(f"d.{g}")).alias(g),
                    (
                        F.coalesce(F.col("p.n_rows"), F.lit(0))
                        + F.coalesce(F.col("d.d_rows"), F.lit(0))
                    ).cast("long").alias("n_rows"),
                    (
                        F.coalesce(F.col("p.sum_dec"), F.lit(0).cast("decimal(18,2)"))
                        + F.coalesce(F.col("d.d_sum"), F.lit(0).cast("decimal(18,2)"))
                    ).cast("decimal(18,2)").alias("sum_dec"),
                )
            )
        updated.write.mode("overwrite").parquet(
            self.inner.log.dir("agg_view", version)
        )
