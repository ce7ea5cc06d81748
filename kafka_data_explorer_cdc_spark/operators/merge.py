"""Delta-style MERGE INTO as a declarative DataFrame operator.

The lakehouse upsert statement —

    MERGE INTO target t USING source s ON t.k = s.k
    WHEN MATCHED [AND cond] THEN UPDATE SET ... / DELETE
    WHEN NOT MATCHED [AND cond] THEN INSERT ...

— without a table format: ``merge_into`` computes the post-MERGE state
of a target DataFrame as ONE query. The CDC-shaped sibling lives in
``streaming/pipeline.py`` (``ParquetStateSink`` applies op/seq
envelopes per micro-batch as a keyed, lsn-arbitrated merge); this
operator is the GENERIC user-facing algebra: arbitrary match conditions
and SET maps, evaluated with Delta/SQL:2003 clause semantics.

Semantics (matching Delta Lake's MERGE reference):

- target and source rows pair on the equi-key ``on`` columns;
- for a MATCHED pair, the FIRST matched-clause whose condition holds
  applies (``update`` rebuilds the row from its SET map; ``delete``
  drops it); if no clause fires the target row survives unchanged;
- a source row with no partner inserts if the (optional) not-matched
  condition holds, else is discarded;
- a target row with no partner always survives;
- more than one source row per merge key is the classic MERGE
  cardinality violation — guarded BEFORE the join with one map-side-
  combined count over the source alone (output ≈ dup keys only, so
  the guard costs a fraction of the source scan and nothing on the
  target side) and raised as ``MergeCardinalityError`` listing
  offending keys. This is deliberately STRICTER than Delta, which
  errors only when a duplicate actually matches a target row: a
  duplicate source key makes the not-matched INSERT outcome exactly
  as ambiguous as the matched UPDATE, so this engine rejects both
  rather than inserting two rows for one key.

Physical shape (the 100 TB contract): the whole statement is ONE
full-outer equi-join — a single pair of hash-partitioned exchanges on
the merge key (or ZERO exchanges when both sides are bucketed on the
key, b47's layout) — followed by per-column CASE projection, all
JVM-side whole-stage codegen. Clause dispatch costs one integer column.
Compare the row-preserving UNION-of-three-branches formulation (kept
in the b80 oracle): it scans the target twice and the source twice;
this plan touches each side once.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["MergeCardinalityError", "MatchedClause", "merge_into"]


class MergeCardinalityError(ValueError):
    """Multiple source rows matched one target key (ambiguous MERGE)."""


@dataclass
class MatchedClause:
    """One WHEN MATCHED [AND condition] THEN update/delete clause.

    ``action`` is ``"update"`` (with ``set_map`` of target column →
    expression over the joined row: plain columns resolve to the
    TARGET side, ``F.col("__s.x")`` reaches the source side) or
    ``"delete"``. ``condition`` None means unconditional.
    """

    action: str
    condition: Column | None = None
    set_map: dict[str, Column] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.action not in ("update", "delete"):
            raise ValueError(f"unknown MERGE action {self.action!r}")
        if self.action == "update" and not self.set_map:
            raise ValueError("update clause needs a non-empty SET map")
        if self.action == "delete" and self.set_map:
            raise ValueError("delete clause takes no SET map")


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    matched: list[MatchedClause] | None = None,
    insert_when_not_matched: bool = True,
    not_matched_condition: Column | None = None,
    insert_map: dict[str, Column] | None = None,
    check_cardinality: bool = True,
) -> DataFrame:
    """Return the post-MERGE state of ``target`` (schema == target's).

    ``insert_map`` maps target columns to expressions over the source
    row for WHEN NOT MATCHED THEN INSERT; by default source columns
    sharing the target column's name copy over and the rest NULL-fill.
    Set ``check_cardinality=False`` to skip the duplicate-key guard
    when the source is already known key-unique (e.g. it came out of a
    distinct/latest-state compaction) — the guard runs one map-side-
    combined count over the SOURCE only (never touches the target) and
    collects at most 5 offending keys.
    """
    matched = matched or []
    if check_cardinality:
        dupes = (
            source.groupBy(*on)
            .count()
            .filter(F.col("count") > 1)
            .limit(5)
        )
        rows = dupes.collect()  # bounded: ≤5 rows, error path only
        if rows:
            raise MergeCardinalityError(
                "MERGE: duplicate source rows for merge key(s) "
                f"{[tuple(r[k] for k in on) for r in rows]} "
                "(first 5 shown)"
            )
    # Presence markers, not key-null probes: a NULL merge key must mean
    # "never matches" (SQL MERGE semantics), not "row absent".
    t = target.withColumn("__t_present", F.lit(True)).alias("__t")
    # Source-side key column names may equal target's — resolve through
    # the alias everywhere, never by bare name.
    s = source.withColumn("__s_present", F.lit(True)).alias("__s")
    cond = None
    for k in on:
        c = F.col(f"__t.{k}") == F.col(f"__s.{k}")
        cond = c if cond is None else (cond & c)

    joined = t.join(s, cond, "full_outer")
    t_present = F.col("__t.__t_present").isNotNull()
    s_present = F.col("__s.__s_present").isNotNull()

    # Clause dispatch: one integer — 0 = keep target (no clause fired /
    # target-only), i>0 = matched clause i fired, -1 = insert, -2 =
    # discard unmatched source.
    both = t_present & s_present
    action = F.when(
        both,
        _first_clause(matched),
    ).otherwise(
        F.when(
            s_present
            & F.lit(insert_when_not_matched)
            & (
                not_matched_condition
                if not_matched_condition is not None
                else F.lit(True)
            ),
            F.lit(-1),
        ).when(s_present, F.lit(-2)).otherwise(F.lit(0))
    )
    joined = joined.withColumn("__action", action)

    # Survivors: everything except deletes and discarded sources.
    delete_ids = [
        i + 1 for i, cl in enumerate(matched) if cl.action == "delete"
    ]
    out = joined.filter(~F.col("__action").isin([*delete_ids, -2]))

    # Per-column CASE projection back to the target schema.
    insert_map = insert_map or {}
    src_cols = set(source.columns)
    cols = []
    for c in target.columns:
        expr = F.col(f"__t.{c}")
        for i, cl in enumerate(matched):
            if cl.action == "update" and c in cl.set_map:
                expr = F.when(
                    F.col("__action") == i + 1, cl.set_map[c]
                ).otherwise(expr)
        if c in insert_map:
            ins = insert_map[c]
        elif c in src_cols:
            ins = F.col(f"__s.{c}")
        else:
            ins = F.lit(None)
        expr = F.when(F.col("__action") == -1, ins).otherwise(expr)
        cols.append(expr.alias(c))
    return out.select(*cols)


def _first_clause(matched: list[MatchedClause]) -> Column:
    """First-match clause dispatch: Delta evaluates matched clauses in
    declaration order and applies the first whose condition holds."""
    expr = F.lit(0)
    for i in reversed(range(len(matched))):
        cl = matched[i]
        c = cl.condition if cl.condition is not None else F.lit(True)
        expr = F.when(c, F.lit(i + 1)).otherwise(expr)
    return expr
