"""Streaming queries in the correctness gate (B21-B24 streaming forms).

Unlike the batch twins, these run a *real* Structured Streaming query
(file source → trigger availableNow → memory/parquet sink) inside the
``queries()`` callable and return the materialized result — so the
DuckDB oracle verifies actual streaming execution: source offsets,
micro-batching, state store, and sink semantics included.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cdc.envelope import ORDERS_INFO_SQL, orders_info, to_change_envelopes
from ..io import derived, load
from ..streaming.pipeline import ParquetStateSink, start_cdc_pipeline
from ..streaming.windows import (
    read_events_stream,
    run_to_memory,
    stage_ordered,
    streaming_dedup,
)
from .helpers import (
    ACTIVITY_COUNTS_ORACLE,
    LAST_TOUCH_ORACLE,
    MULTITOUCH_ORACLE,
    SCD2_MERGE_ORACLE,
    SEQUENCE_DETECT_ORACLE,
    SESSION_WINDOW_ORACLE,
    WELCH_TTEST_ORACLE,
    set_gate,
)
from .registry import query


def _tmp(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix)


def _change_log_dir(spark: SparkSession, sf_dir: str) -> str:
    """Synthesized insert→update→delete change-log envelopes for
    (sf_dir), written once per source file (``io.derived``) and shared
    read-only by every pipeline entry that replays this log (s29, s30):
    the input files are deterministic in the orders table, and the
    streaming source only reads the directory — checkpoints and state
    stay per-run."""

    def build(indir: str) -> None:
        info = orders_info(load(spark, sf_dir, "orders"))
        updated = info.filter(F.col("orderid") % 3 == 0).withColumn(
            "amount", F.col("amount") + 100
        )
        deleted = info.filter(F.col("orderid") % 5 == 0)
        scratch = os.path.join(indir, "_scratch")
        for fname, env in [
            ("0_inserts", to_change_envelopes(info, "c", 0)),
            ("1_updates", to_change_envelopes(updated, "u", 1)),
            ("2_deletes", to_change_envelopes(deleted, "d", 2)),
        ]:
            # one flat .txt per op set (the file source does not
            # recurse): serialize in parallel, then concat the parts
            # driver-side — coalesce(1) would funnel all JSON
            # serialization through one task (measured 2.5x on this
            # entry's wall at sf0.1)
            env.select("value").write.mode("overwrite").text(scratch)
            with open(os.path.join(indir, f"{fname}.txt"), "wb") as out:
                for p in sorted(os.listdir(scratch)):
                    if p.startswith("part-") and p.endswith(".txt"):
                        with open(os.path.join(scratch, p), "rb") as src:
                            out.write(src.read())
        shutil.rmtree(scratch)

    return derived("changelog", f"{sf_dir}/orders.parquet", build)


@query(
    "s21_stream_tumbling_counts",
    oracle="""
SELECT time_bucket(INTERVAL '1 minute', ts) AS win_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2
""",
    tags=("streaming",),
)
def s21_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window counts (B21): the events table replayed
    through a real file-source stream, windowed aggregation in the state
    store, complete-mode memory sink. Must equal the batch/DuckDB result
    exactly — the unified-batch/streaming contract."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        ev.groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )
    return run_to_memory(agg, output_mode="complete")


@query(
    "s22_stream_sliding_counts",
    oracle="""
SELECT win_start, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM (
  SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                 time_bucket(INTERVAL '5 minutes', ts) - INTERVAL 5 MINUTE])
           AS win_start,
         event_type
  FROM events
)
GROUP BY 1, 2
""",
    tags=("streaming",),
)
def s22_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding-window counts (B21 sliding form, b21b's real-
    stream twin): 10-minute windows sliding every 5, each event expanded
    into its two windows before the stateful aggregation; complete-mode
    memory sink, exact match to the batch/DuckDB expansion."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )
    return run_to_memory(agg, output_mode="complete")


@query(
    "s23_stream_dedup",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_unique
FROM events GROUP BY event_type
""",
    tags=("streaming", "dedup"),
)
def s23_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (B23): the events file delivered TWICE through
    the stream (at-least-once simulation); watermarked dropDuplicates
    on event_id must collapse the duplicate delivery so per-type counts
    equal the single-copy batch result."""
    indir = _tmp("s23_in_")
    src = f"{sf_dir}/events.parquet"
    os.symlink(src, os.path.join(indir, "copy1.parquet"))
    os.symlink(src, os.path.join(indir, "copy2.parquet"))
    ev = read_events_stream(spark, indir)
    drained = run_to_memory(streaming_dedup(ev), output_mode="append")
    return (
        drained
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )


@query(
    "s24_stream_cdc_apply",
    oracle=f"""
WITH orders_info AS ({ORDERS_INFO_SQL})
SELECT CAST(orderid AS VARCHAR) AS orderid,
       CAST(custid AS VARCHAR) AS custid,
       city,
       CAST(amount AS INTEGER) AS amount
FROM orders_info
""",
    tags=("streaming", "cdc"),
)
def s24_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference pipeline, live (SURVEY.md §3.1): Debezium
    envelopes streamed from files → from_json parse → SMT unwrap →
    checkpointed foreachBatch idempotent merge → versioned-parquet
    state → ADX-style projection (int→string coercion). The oracle is
    the source-table derivation itself: CDC round-trip must be lossless
    for pure inserts."""
    run_id = uuid.uuid4().hex[:8]
    indir, state, ckpt = (
        _tmp(f"s24_in_{run_id}_"),
        _tmp(f"s24_state_{run_id}_"),
        _tmp(f"s24_ckpt_{run_id}_"),
    )
    env = to_change_envelopes(orders_info(load(spark, sf_dir, "orders")), "c")
    env.select("value").write.mode("overwrite").text(indir)
    q = start_cdc_pipeline(spark, indir, state, ckpt, available_now=True)
    q.awaitTermination()
    final = ParquetStateSink(spark, state, ["orderid"]).current()
    return final.select(
        F.col("orderid").cast("string").alias("orderid"),
        F.col("custid").cast("string").alias("custid"),
        F.col("city"),
        F.col("amount").cast("int").alias("amount"),
    )


@query(
    "s25_stream_sessionization",
    oracle=SESSION_WINDOW_ORACLE,
    tags=("streaming", "session"),
)
def s25_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization under real Structured Streaming execution
    (B21/B24 family): session_window + watermark runs the merge-able
    session state machine in the state store; complete replay of the
    events table must equal the batch/DuckDB gaps-and-islands result —
    the unified-semantics contract for MERGING session windows."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    return run_to_memory(agg, output_mode="complete")


@query(
    "s26_stream_stateful_funnel",
    oracle="""
SELECT e1.user_id,
       CAST(COUNT(*) AS BIGINT) AS conversions
FROM events e1 JOIN events e2
  ON e1.user_id = e2.user_id
 AND e2.ts > e1.ts
 AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
WHERE e1.event_type = 'click' AND e2.event_type = 'purchase'
GROUP BY e1.user_id
""",
    tags=("streaming", "stateful"),
)
def s26_stream_stateful_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): the
    click→purchase funnel as an incremental stream. No built-in
    streaming operator expresses a stream-side range join; the state —
    clicks still inside the 10-minute horizon, pruned every batch so
    state stays O(rate × horizon) — is owned by user code in the state
    store (streaming/stateful.py). Replaying the events table through
    the operator and summing the per-batch deltas must equal the batch
    b06 range join — the custom-state analogue of the unified
    batch/streaming contract."""
    from ..streaming.stateful import streaming_funnel

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    drained = run_to_memory(streaming_funnel(ev), output_mode="append")
    return (
        drained
        .groupBy("user_id")
        .agg(F.sum("conversions").alias("conversions"))
    )


@query(
    "s27_stream_stream_join",
    oracle="""
SELECT e1.user_id,
       CAST(COUNT(*) AS BIGINT) AS conversions
FROM events e1 JOIN events e2
  ON e1.user_id = e2.user_id
 AND e2.ts > e1.ts
 AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
WHERE e1.event_type = 'click' AND e2.event_type = 'purchase'
GROUP BY e1.user_id
""",
    tags=("streaming", "join"),
)
def s27_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (the built-in twin of s26's custom
    stateful funnel): clicks and purchases as two watermarked streams,
    inner-joined on user + a 10-minute event-time range. The watermark
    + range condition bound BOTH join buffers — a click can leave state
    once the purchase-side watermark passes click.ts + 10 min, which is
    what makes an unbounded stream joinable in finite memory. Join rows
    drain append-mode to the sink; the per-user rollup happens batch-
    side (chaining a streaming agg after a stream-stream join stacks a
    second stateful operator for no test value). Same oracle as
    b06/s26: three execution strategies, one range-join semantics."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts > c_ts "
            "AND p_ts <= c_ts + INTERVAL 10 MINUTES"
        ),
    )
    drained = run_to_memory(joined, output_mode="append")
    return (
        drained
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count("*").alias("conversions"))
    )


@query(
    "s28_stream_static_enrich",
    oracle="""
SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""",
    tags=("streaming", "join"),
)
def s28_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events stream joined per
    micro-batch against the static customer dimension (the canonical
    "enrich the CDC/event stream with reference data" shape). The
    static side is broadcast — stream-static joins are STATELESS
    (no watermark, no join state store): each micro-batch probes the
    dimension table and the downstream aggregation holds the only
    state. At scale the dimension broadcast is the same plan as b03's
    batch join; counts and decimal-exact sums must match the batch/
    DuckDB twin exactly — the unified-batch/streaming contract for
    joins."""
    from .helpers import dsum

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    cust = load(spark, sf_dir, "customer")
    enriched = ev.join(
        F.broadcast(cust), ev.user_id == cust.c_custkey, "inner"
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"), dsum("value", "total_value")
    )
    return run_to_memory(agg, output_mode="complete")


@query(
    "s29_incremental_agg_view",
    oracle=f"""
WITH orders_info AS ({ORDERS_INFO_SQL}),
final AS (
  SELECT city,
         CASE WHEN orderid % 3 = 0 THEN amount + 100 ELSE amount END AS amount
  FROM orders_info WHERE orderid % 5 <> 0)
SELECT city, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM final GROUP BY city
""",
    tags=("streaming", "cdc", "matview"),
)
def s29_incremental_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (streaming/matview.py):
    a synthesized insert→update→delete change log (every 3rd key's
    amount bumped, every 5th key deleted — closed form, so the oracle
    derives the final aggregate relationally) streamed through the CDC
    pipeline with one-file micro-batches; each batch applies only its
    keys' COUNT/decimal-SUM delta to the stored per-city view. The
    returned view must equal re-aggregating the final state — without
    the sink ever re-reading history (ingest O(batch), read O(groups):
    the streaming-warehouse shape for dashboard aggregates at 100 TB)."""
    from ..streaming.matview import AggViewSink

    run_id = uuid.uuid4().hex[:8]
    state, ckpt = _tmp(f"s29_state_{run_id}_"), _tmp(f"s29_ckpt_{run_id}_")
    indir = _change_log_dir(spark, sf_dir)
    sink = AggViewSink(
        spark, state, ["orderid"], group_col="city", value_col="amount"
    )
    q = start_cdc_pipeline(
        spark, indir, state, ckpt, available_now=True,
        max_files_per_trigger=1, sink=sink,
    )
    q.awaitTermination()
    return sink.view()


@query(
    "s30_change_data_feed",
    oracle=f"""
WITH orders_info AS ({ORDERS_INFO_SQL})
SELECT orderid, custid,
       CASE WHEN orderid % 3 = 0 THEN amount + 100 ELSE amount END AS amount,
       city
FROM orders_info WHERE orderid % 5 <> 0
""",
    tags=("streaming", "cdc", "changefeed"),
)
def s30_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed (streaming/changefeed.py — Delta CDF's shape):
    the s29 insert/update/delete log streamed through the CDC pipeline
    with a ChangeFeedSink deriving per-commit row-level net changes
    (insert / delete / update pre+postimage) from each micro-batch's
    merge. Returned is the feed COMPACTED back to latest state — the
    feed-completeness invariant: replaying only the emitted changes
    must reproduce the closed-form final table exactly (replays and
    intra-batch churn arbitrated away, so the at-least-once input
    yields an effectively-exactly-once feed)."""
    from ..streaming.changefeed import ChangeFeedSink

    run_id = uuid.uuid4().hex[:8]
    state, ckpt = _tmp(f"s30_state_{run_id}_"), _tmp(f"s30_ckpt_{run_id}_")
    indir = _change_log_dir(spark, sf_dir)
    sink = ChangeFeedSink(spark, state, ["orderid"])
    q = start_cdc_pipeline(
        spark, indir, state, ckpt, available_now=True,
        max_files_per_trigger=1, sink=sink,
    )
    q.awaitTermination()
    return sink.compact().select(
        F.col("orderid").cast("long").alias("orderid"),
        F.col("custid").cast("long").alias("custid"),
        F.col("amount").cast("long").alias("amount"),
        "city",
    )


@query(
    "s31_pipeline_over_custom_source",
    oracle=f"""
WITH orders_info AS ({ORDERS_INFO_SQL})
SELECT CAST(orderid AS VARCHAR) AS orderid,
       CAST(custid AS VARCHAR) AS custid,
       city,
       CAST(amount AS INTEGER) AS amount
FROM orders_info
""",
    tags=("streaming", "cdc", "connector"),
)
def s31_pipeline_over_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s24's full CDC pipeline with the TRANSPORT swapped: envelopes
    arrive through the pluggable ``cdc_envelopes`` streaming connector
    (Python Data Source API, offset-checkpointed file tail —
    sources/envelope_source.py) instead of the built-in file reader,
    passed raw as ``source=``. The pipeline decodes it as it decodes
    every transport, everything from parse to merge is unchanged, and
    the oracle is s24's — the connector seam is proven
    transport-agnostic end to end, which is the whole point of a
    connector API."""
    from ..sources.envelope_source import register

    register(spark)
    run_id = uuid.uuid4().hex[:8]
    indir, state, ckpt = (
        _tmp(f"s31_in_{run_id}_"),
        _tmp(f"s31_state_{run_id}_"),
        _tmp(f"s31_ckpt_{run_id}_"),
    )
    env = to_change_envelopes(orders_info(load(spark, sf_dir, "orders")), "c")
    env.select("value").write.mode("overwrite").text(indir)
    raw = spark.readStream.format("cdc_envelopes").load(indir)
    q = start_cdc_pipeline(spark, indir, state, ckpt, available_now=True, source=raw)
    q.awaitTermination()
    final = ParquetStateSink(spark, state, ["orderid"]).current()
    return final.select(
        F.col("orderid").cast("string").alias("orderid"),
        F.col("custid").cast("string").alias("custid"),
        F.col("city"),
        F.col("amount").cast("int").alias("amount"),
    )


_S32_PERMS = [(2 * i + 1, 97 * i + 13) for i in range(4)]  # _MINHASH_PERMS[:4]
_S32_P = 1_000_000_007
_S32_POLY = (
    "CASE WHEN length(s) = 0 THEN 0 ELSE "
    "aggregate(transform(split(s, ''), ch -> ascii(ch)), 0L, "
    f"(acc, c) -> (acc * 31 + c) % {_S32_P}) END"
)
_S32_DUCK_H = (
    "CASE WHEN length(shingle) = 0 THEN 0 ELSE "
    "list_reduce(list_transform(generate_series(1, length(shingle)), "
    "i -> CAST(unicode(shingle[i:i]) AS BIGINT)), "
    f"(acc, c) -> (acc * 31 + c) % {_S32_P}) END"
)


@query(
    "s32_stream_minhash_dedup",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
), h AS (
  SELECT doc_id, {_S32_DUCK_H} AS h FROM sh
), sig AS (
  SELECT doc_id,
         {", ".join(f"MIN(({a} * h + {b}) % {_S32_P}) AS s{i}" for i, (a, b) in enumerate(_S32_PERMS))}
  FROM h GROUP BY doc_id
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_unique
FROM (
  SELECT DISTINCT d.lang, s.s0, s.s1, s.s2, s.s3
  FROM documents d JOIN sig s USING (doc_id)
)
GROUP BY lang
""",
    tags=("streaming", "dedup", "llm"),
)
def s32_stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup suppression (B23's content-keyed form): the
    documents table replayed through a real file stream; each arriving
    document gets a 4-component portable MinHash signature computed as
    PURE per-row expressions (token array → shingle transform → poly
    hash → affine minima: zero shuffle, whole-stage codegen), and
    ``dropDuplicates`` on (lang, signature) keeps only the first
    signature-identical document per language — exact dups and
    shuffled near-identical twins collapse in flight, before they ever
    reach the training store.

    Scale shape: state is one compact row per distinct (lang, sig) —
    bounded by CONTENT diversity, not stream length; the production
    form adds an ingest-time watermark (s23) to bound the horizon.
    The result is arrival-order independent by construction (the keep
    decision depends only on the key), so the batch oracle can verify
    the streaming execution exactly."""
    from ..io import SCHEMAS

    src = f"{sf_dir}/documents.parquet"
    d = _tmp("docs_stream_")
    os.symlink(src, os.path.join(d, "documents.parquet"))
    docs = spark.readStream.schema(SCHEMAS["documents"]).parquet(d)
    toks = docs.withColumn(
        "__t", F.expr("split(lower(trim(text)), ' ')")
    ).filter(F.size("__t") >= 3)
    sh = toks.withColumn(
        "__hs",
        F.expr(
            "transform(sequence(1, size(__t) - 2), "
            "i -> concat_ws(' ', __t[i-1], __t[i], __t[i+1]))"
        ),
    ).withColumn("__hs", F.expr(f"transform(__hs, s -> {_S32_POLY})"))
    sig = sh.select(
        "lang",
        *[
            F.expr(
                f"array_min(transform(__hs, h -> ({a} * h + {b}) % {_S32_P}))"
            ).alias(f"s{i}")
            for i, (a, b) in enumerate(_S32_PERMS)
        ],
    )
    kept = sig.dropDuplicates(["lang", "s0", "s1", "s2", "s3"])
    drained = run_to_memory(kept, output_mode="append")
    return (
        drained
        .groupBy("lang")
        .agg(F.count("*").alias("n_unique"))
    )


@query(
    "s33_stream_left_outer_join",
    oracle="""
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
h AS (
  SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
         - INTERVAL 41 MINUTE AS hz
)
SELECT c.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(p.ts) AS BIGINT) AS n_matched
FROM c LEFT JOIN p
  ON c.user_id = p.user_id
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE, h
WHERE c.ts <= h.hz
GROUP BY c.user_id
""",
    tags=("streaming", "join"),
)
def s33_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics s27's
    inner join can't express: clicks with NO purchase within 10 minutes
    are emitted null-padded once the join watermark passes their match
    window (state eviction doubles as negative-result emission). The
    final availableNow micro-batch flushes evictable state, so every
    click older than min(side watermarks) - 10 min has a definitive
    row; the aggregation (and the oracle) restrict to that horizon —
    clicks newer than it are still awaiting potential matches at
    end-of-replay, exactly as they would be on a live stream.

    Scale: identical state-bound story to s27 — the watermark + range
    condition bound both buffers, and unmatched emission is driven by
    eviction, so state is O(events in the 40-minute horizon), not
    O(stream)."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts > c_ts "
            "AND p_ts <= c_ts + INTERVAL 10 MINUTES"
        ),
        "leftOuter",
    )
    drained = run_to_memory(joined, output_mode="append")
    evb = load(spark, sf_dir, "events")
    horizon = evb.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
            - F.expr("INTERVAL 41 MINUTES")
        ).alias("hz")
    )
    return (
        drained
        .crossJoin(F.broadcast(horizon))
        .filter(F.col("c_ts") <= F.col("hz"))
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.count("p_ts").alias("n_matched"),
        )
    )


@query(
    "s34_stream_value_histogram",
    oracle="""
SELECT time_bucket(INTERVAL '1 day', ts) AS win_start,
       LEAST(CAST(FLOOR(value / 25.0) AS BIGINT), 7) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2
""",
    tags=("streaming", "profiling"),
)
def s34_stream_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution monitor (b57's streaming twin): per
    tumbling day, an 8-bin equi-width histogram of the event value —
    the live "is today's traffic shaped like yesterday's" dashboard
    behind drift alerts. The bucket id is the same pure arithmetic as
    b57, computed BEFORE the stateful aggregation, so state is
    (window x 8 buckets) rows — constant per window regardless of
    event volume, the property that keeps the state store flat at
    100 TB/day. Complete-mode memory sink; exact batch-equivalence is
    the unified-engine contract (same plan family as s21)."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    bucket = F.least(
        F.floor(F.col("value") / F.lit(25.0)).cast("bigint"),
        F.lit(7).cast("bigint"),
    )
    agg = (
        ev.withColumn("bucket", bucket)
        .groupBy(F.window("ts", "1 day"), "bucket")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"), "bucket", "n_events"
        )
    )
    return run_to_memory(agg, output_mode="complete")


@query(
    "s35_stream_approx_distinct",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
       event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS within_bound
FROM events GROUP BY 1, 2
""",
    tags=("streaming", "sketch", "approx"),
)
def s35_stream_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming approximate distinct-count (live per-window unique
    users): exact COUNT(DISTINCT) is unsupported in a streaming
    aggregation for the same reason it does not scale — the state
    would be the full key set — so the streaming form is
    `approx_count_distinct` (HLL state: KB per window regardless of
    cardinality). The b41/b45 bounded-comparison gate pattern applied
    to a REAL stream: the windowed sketch estimates materialize from
    a complete-mode memory sink, then every estimate must land within
    15% + 5 of the exact batch recount (~3x the default 5% rsd,
    plus small-count slack); the driver-visible columns are the exact
    counts plus the all-TRUE gate.

    At 100 TB-rate streams this is THE live-dashboard cardinality
    operator: mergeable sketch state, watermark-evictable, constant
    memory per (window, type)."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.approx_count_distinct("user_id").alias("n_approx"))
        .select(
            F.col("window.start").alias("win_start"), "event_type", "n_approx"
        )
    )
    approx = run_to_memory(agg, output_mode="complete")
    exact = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "1 hour").getField("start").alias("win_start"),
            "event_type",
        )
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return exact.join(approx, ["win_start", "event_type"]).select(
        "win_start",
        "event_type",
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact"))
            <= 0.15 * F.col("n_exact") + 5
        ).alias("within_bound"),
    )


@query(
    "s36_stream_partitioned_sink",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       TRUE AS laid_out
FROM events GROUP BY event_type
""",
    tags=("streaming", "layout", "sink"),
)
def s36_stream_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file sink writing the LAKE LAYOUT: the events stream
    lands as hive-partitioned parquet (`partitionBy(event_type)` —
    b65's directory layout, produced by a real `writeStream` with a
    checkpoint, not a batch rewrite). The file sink's manifest log
    gives exactly-once files per micro-batch; the entry then reads the
    landed table BACK through the partition-discovering reader and
    must reproduce the batch aggregate exactly — proving no row was
    lost, duplicated, or mis-bucketed on the way through the stream.
    `laid_out` gates that every expected partition directory exists.

    At 100 TB-rate ingest this is the standard bronze-layer shape:
    streaming writers fan rows into partition dirs, downstream batch
    readers prune on them (b65), and b63's compaction fixes the
    small-files tax per partition. State here is zero (stateless
    sink) — the checkpoint tracks only source offsets + sink
    manifest."""
    import glob as _glob

    out = _tmp("s36_out_")
    cp = _tmp("s36_cp_")
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    q = (
        ev.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .partitionBy("event_type")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    n_dirs = len(_glob.glob(os.path.join(out, "event_type=*")))
    n_types = back.select("event_type").distinct().count()
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("event_id").alias("sum_ids"),
    ).select(
        "event_type",
        "n_events",
        "sum_ids",
        F.lit(n_dirs == n_types).alias("laid_out"),
    )


@query(
    "s37_hybrid_backfill_union",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-03 00:00:00'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hist,
       CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-03 00:00:00'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids
FROM events GROUP BY event_type
""",
    tags=("streaming", "backfill"),
)
def s37_hybrid_backfill_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid batch-backfill + live-stream unified view (the kappa/
    lambda seam every production table has): history BEFORE the
    cutoff is served by a plain batch scan, rows at/after the cutoff
    arrive through a REAL stream (filtered inside the streaming plan,
    append-mode sink), and the serving query is the UNION of the two —
    which must equal the single-table batch answer exactly: no seam
    row lost, duplicated, or double-counted. The per-side counts are
    part of the report, so a cutoff drift (the classic backfill bug:
    `<` vs `<=` on both sides) breaks the oracle match instead of
    hiding.

    Scale shape: history is pruned at the scan by the cutoff
    predicate (with b65's layout, at listing time); the stream
    carries only post-cutoff rows; the union is a plan-level concat —
    no shuffle until the final aggregate."""
    cutoff = "2024-01-03 00:00:00"
    live = read_events_stream(spark, f"{sf_dir}/events.parquet").filter(
        F.col("ts") >= F.lit(cutoff).cast("timestamp")
    )
    live_tbl = run_to_memory(live, output_mode="append").withColumn(
        "side", F.lit("live")
    )
    hist = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
        .withColumn("side", F.lit("hist"))
    )
    unified = hist.unionByName(live_tbl.select(*hist.columns))
    return unified.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("side") == "hist", 1).otherwise(0)).alias("n_hist"),
        F.sum(F.when(F.col("side") == "live", 1).otherwise(0)).alias("n_live"),
        F.sum("event_id").alias("sum_ids"),
    )


@query(
    "s38_stream_window_topk",
    oracle="""
WITH c AS (
  SELECT time_bucket(INTERVAL '6 hour', ts) AS win_start, user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), r AS (
  SELECT win_start, user_id, n_events,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY win_start ORDER BY n_events DESC, user_id
         ) AS INT) AS rk
  FROM c
)
SELECT win_start, user_id, n_events, rk FROM r WHERE rk <= 2
""",
    tags=("streaming", "topk"),
)
def s38_stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: top-2 users per tumbling 6-hour window
    — the live "who is hammering the API this window" dashboard. The
    STREAMING side maintains only the additive (window, user) count
    state (mergeable, watermark-evictable); the rank-and-keep-2 runs
    on the dashboard READ over the materialized counts, because a
    ranking window over a streaming aggregate is not incrementally
    maintainable (a late event can reorder the whole ranking — the
    same reason Kusto's `top` is also a serve-time operator). That
    split — additive state in the stream, ordering at read — is the
    scale contract: state size is bounded by distinct (window, user),
    never by ranking position, and the read-side rank touches only the
    already-reduced counts (thousands of rows, not the event volume).
    Deterministic tiebreak on user_id pins both engines."""
    from pyspark.sql import Window

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        ev.groupBy(F.window("ts", "6 hours"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.start").alias("win_start"), "user_id", "n_events")
    )
    counts = run_to_memory(agg, output_mode="complete")
    w = Window.partitionBy("win_start").orderBy(
        F.col("n_events").desc(), F.col("user_id").asc()
    )
    return counts.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 2
    )


@query(
    "s39_stream_quantile_monitor",
    oracle="""
SELECT time_bucket(INTERVAL '1 day', ts) AS win_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS p50_ok, TRUE AS p95_ok
FROM events GROUP BY 1
""",
    tags=("streaming", "sketch", "approx", "gate"),
)
def s39_stream_quantile_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming latency/value quantile monitor: per tumbling day,
    p50/p95 of the event value via `percentile_approx` — the GK sketch
    is the ONLY percentile that exists in a streaming aggregation
    (exact forms would buffer every value in state; the sketch is
    mergeable and constant-size per window, which is what makes live
    p95 dashboards possible at 100 TB/day). b27x's rank-error gate
    applied to the STREAM's output: each windowed sketch value's true
    rank interval (lt, le], recounted exactly batch-side, must meet
    the guaranteed band ±max(n/10000, 1) (+1 discrete slack) around
    the target rank — booleans vs an all-TRUE oracle, so a sketch or
    windowing bug flips the driver hash."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        ev.groupBy(F.window("ts", "1 day"))
        .agg(
            F.count("*").alias("n_events"),
            F.percentile_approx("value", 0.5, 10000).alias("a50"),
            F.percentile_approx("value", 0.95, 10000).alias("a95"),
        )
        .select(
            F.col("window.start").alias("win_start"), "n_events", "a50", "a95"
        )
    )
    sk = run_to_memory(agg, output_mode="complete")
    batch = load(spark, sf_dir, "events").select(
        F.window("ts", "1 day").start.alias("win_start"), "value"
    )
    joined = batch.join(F.broadcast(sk), "win_start")
    ranks = joined.groupBy("win_start").agg(
        F.first("n_events").alias("n_events"),
        F.count("*").alias("n"),
        F.sum((F.col("value") < F.col("a50")).cast("long")).alias("lt50"),
        F.sum((F.col("value") <= F.col("a50")).cast("long")).alias("le50"),
        F.sum((F.col("value") < F.col("a95")).cast("long")).alias("lt95"),
        F.sum((F.col("value") <= F.col("a95")).cast("long")).alias("le95"),
    )

    def ok(q: float, nm: str):
        eps = F.greatest(F.col("n") / 10000, F.lit(1.0))
        lo = q * F.col("n") - eps - 1
        hi = q * F.col("n") + eps + 1
        return (F.col(f"le{nm}") >= lo) & (F.col(f"lt{nm}") <= hi)

    return ranks.select(
        "win_start",
        "n_events",
        ok(0.5, "50").alias("p50_ok"),
        ok(0.95, "95").alias("p95_ok"),
    )


@query(
    "s40_stream_psi_drift",
    oracle="""
WITH bucketed AS (
  SELECT time_bucket(INTERVAL '1 day', ts) AS win_start,
         LEAST(CAST(FLOOR(value / 25.0) AS BIGINT), 7) AS bucket
  FROM events
), days AS (
  SELECT DISTINCT win_start FROM bucketed
), grid AS (
  SELECT d.win_start, b.i AS bucket
  FROM days d, unnest(generate_series(0, 7)) AS b(i)
), cur AS (
  SELECT g.win_start, g.bucket,
         CAST(COUNT(bk.bucket) AS BIGINT) AS n
  FROM grid g LEFT JOIN bucketed bk
    ON bk.win_start = g.win_start AND bk.bucket = g.bucket
  GROUP BY g.win_start, g.bucket
), ref0 AS (
  SELECT LEAST(CAST(FLOOR(value / 25.0) AS BIGINT), 7) AS bucket
  FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
), ref AS (
  SELECT b.i AS bucket, CAST(COUNT(r.bucket) AS BIGINT) AS rn
  FROM unnest(generate_series(0, 7)) AS b(i)
  LEFT JOIN ref0 r ON r.bucket = b.i GROUP BY b.i
), tot AS (
  SELECT win_start, SUM(n) + 8 AS t FROM cur GROUP BY win_start
), rtot AS (
  SELECT SUM(rn) + 8 AS rt FROM ref
), terms AS (
  SELECT c.win_start,
         CAST(FLOOR(
           ((CAST(c.n + 1 AS DOUBLE) / CAST(t.t AS DOUBLE))
              - (CAST(ref.rn + 1 AS DOUBLE) / CAST(rtot.rt AS DOUBLE)))
           * LN((CAST(c.n + 1 AS DOUBLE) / CAST(t.t AS DOUBLE))
                / (CAST(ref.rn + 1 AS DOUBLE) / CAST(rtot.rt AS DOUBLE)))
           * 1e9) AS BIGINT) AS tq
  FROM cur c
  JOIN tot t ON t.win_start = c.win_start
  JOIN ref ON ref.bucket = c.bucket
  CROSS JOIN rtot
)
SELECT win_start, CAST(SUM(tq) AS DOUBLE) / 1e9 AS psi
FROM terms GROUP BY win_start
""",
    tags=("streaming", "drift", "monitor"),
)
def s40_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor: per tumbling day, the
    Population Stability Index of the live value distribution against
    a frozen reference window (the first week) — the alert metric
    behind "has today's traffic shifted" dashboards and model-input
    monitoring (d48's JSD, gone live). The STREAM maintains only s34's
    additive (window × 8 buckets) histogram state — constant per
    window; the PSI itself (dense-grid fill, +1 Laplace smoothing,
    (p−q)·ln(p/q) per bucket) runs on the serve-time read, because a
    log-ratio over proportions is not incrementally maintainable but
    an 8-row-per-window read-side rollup is free — the same
    state/serve split as s38.

    Exactness: each smoothed bucket term is nano-quantized to int64
    (d47/d48 contract) before the order-free per-window sum; the
    reference histogram is integer counts broadcast once. Oracle =
    the identical computation on the batch table — the unified-engine
    batch-equivalence contract."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    bucket = F.least(
        F.floor(F.col("value") / F.lit(25.0)).cast("bigint"),
        F.lit(7).cast("bigint"),
    )
    agg = (
        ev.withColumn("bucket", bucket)
        .groupBy(F.window("ts", "1 day"), "bucket")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("win_start"), "bucket", "n")
    )
    tbl = run_to_memory(agg, output_mode="complete")

    # serve-time read: dense 8-bucket grid per observed window. The
    # grid derives from the same memory table, so its columns are
    # re-aliased (fresh exprIds) before the self-join back.
    days = tbl.select(F.col("win_start").alias("ws")).distinct()
    buckets = spark.range(8).select(F.col("id").alias("gb"))
    grid = days.crossJoin(F.broadcast(buckets))
    cur = (
        grid.join(
            tbl,
            (F.col("ws") == F.col("win_start"))
            & (F.col("gb") == F.col("bucket")),
            "left",
        )
        .select(
            F.col("ws").alias("win_start"),
            F.col("gb").alias("bucket"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )
    # frozen reference: first-week histogram from the batch table,
    # densified the same way (a tiny broadcast — 8 rows + 1 total)
    ref0 = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp"))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("rn"))
    )
    ref = (
        spark.range(8)
        .select(F.col("id").alias("bucket"))
        .join(ref0, "bucket", "left")
        .select("bucket", F.coalesce(F.col("rn"), F.lit(0)).alias("rn"))
    )
    rtot = ref.agg((F.sum("rn") + 8).alias("rt"))
    tot = cur.groupBy("win_start").agg((F.sum("n") + 8).alias("t"))
    d = lambda c: c.cast("double")  # noqa: E731
    p = d(F.col("n") + 1) / d(F.col("t"))
    q = d(F.col("rn") + 1) / d(F.col("rt"))
    term_q = F.floor((p - q) * F.log(p / q) * F.lit(1e9)).cast("bigint")
    return (
        cur.join(tot, "win_start")
        .join(F.broadcast(ref), "bucket")
        .crossJoin(F.broadcast(rtot))
        .select("win_start", term_q.alias("tq"))
        .groupBy("win_start")
        .agg((F.sum("tq").cast("double") / F.lit(1e9)).alias("psi"))
    )


@query(
    "s41_stream_expectations_audit",
    oracle="""
WITH w AS (
  SELECT time_bucket(INTERVAL '1 day', ts) AS win_start,
         CAST(COUNT(*) AS BIGINT) AS rows,
         CAST(SUM(CASE WHEN value IS NULL OR value < 0 OR value > 95
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
         CAST(SUM(CASE WHEN event_type IS NULL
                        OR NOT regexp_matches(event_type, '^(click|view|purchase)$')
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_domain,
         CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 98
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_kv
  FROM events GROUP BY 1
)
SELECT win_start, 'in_range(value,0,95)' AS rule, rows,
       v_range AS violations, v_range = 0 AS passed FROM w
UNION ALL
SELECT win_start, 'accepted_values(event_type)', rows, v_domain,
       v_domain = 0 FROM w
UNION ALL
SELECT win_start, 'kv_below(98)', rows, v_kv, v_kv = 0 FROM w
""",
    tags=("streaming", "quality", "dsl"),
)
def s41_stream_expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b82's expectations audit, GONE LIVE: per tumbling day, each
    declared rule's row count and violation count on a real stream —
    the data-quality gate a streaming pipeline promotes micro-batches
    on (Delta Live Tables' expectations are exactly this surface).
    Violation indicators are computed row-locally BEFORE the stateful
    aggregation (s34's bucket-before-agg discipline), so state is
    (window × n_rules) SCALARS — adding a rule adds one sum column,
    never a row, and never state growth with volume. The long-form
    report (stack unpivot) runs on the serve-time read, s38's
    state/serve split. Batch-equivalence oracle — the unified-engine
    contract."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    v_range = F.when(
        F.col("value").isNull()
        | (F.col("value") < 0)
        | (F.col("value") > 95),
        1,
    ).otherwise(0)
    v_domain = F.when(
        F.col("event_type").isNull()
        | ~F.col("event_type").rlike("^(click|view|purchase)$"),
        1,
    ).otherwise(0)
    v_kv = F.when(
        F.get_json_object("props", "$.k").cast("bigint") >= 98, 1
    ).otherwise(0)
    agg = (
        ev.select(
            "ts",
            v_range.alias("vr"),
            v_domain.alias("vd"),
            v_kv.alias("vk"),
        )
        .groupBy(F.window("ts", "1 day"))
        .agg(
            F.count("*").alias("rows"),
            F.sum("vr").alias("v_range"),
            F.sum("vd").alias("v_domain"),
            F.sum("vk").alias("v_kv"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "rows",
            "v_range",
            "v_domain",
            "v_kv",
        )
    )
    tbl = run_to_memory(agg, output_mode="complete")
    return tbl.select(
        "win_start",
        F.expr(
            "stack(3, 'in_range(value,0,95)', v_range, "
            "'accepted_values(event_type)', v_domain, "
            "'kv_below(98)', v_kv) AS (rule, violations)"
        ),
        "rows",
    ).select(
        "win_start",
        "rule",
        "rows",
        "violations",
        (F.col("violations") == 0).alias("passed"),
    )


@query(
    "s42_stream_bitmap_distinct",
    oracle="""
SELECT time_bucket(INTERVAL '1 day', ts) AS win_start,
       event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events GROUP BY 1, 2
""",
    tags=("streaming", "exact", "sketch"),
)
def s42_stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT streaming distinct count — the thing s35 had to
    approximate with HLL — made possible for bounded id domains by
    b85's bitmap trick: the streaming aggregation keys on
    (window, type, user_id div 64) and its ONLY state per key is one
    64-bit ``bit_or`` word (associative and idempotent, so state
    merges across micro-batches and replays are no-ops bit-wise). The
    serve-time read sums ``bit_count`` per (window, type). State =
    windows × types × (domain/64) words — 8 bytes per 64 possible
    users per window, volume-independent; for a 10⁹-id domain that is
    125 MB/window, and b70's dictionary encoding densifies unbounded
    natural keys into exactly such a domain. Exact COUNT(DISTINCT) in
    a streaming aggregation is otherwise unsupported (state would be
    the full key set — the reason s35 exists). Batch-equivalence
    oracle: the streamed bitmap answer must equal the raw-scan
    COUNT(DISTINCT)."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        ev.select(
            "ts",
            "event_type",
            (F.col("user_id") / 64).cast("bigint").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy(F.window("ts", "1 day"), "event_type", "word_idx")
        .agg(F.bit_or("bit").alias("word"))
        .select(
            F.col("window.start").alias("win_start"), "event_type", "word"
        )
    )
    drained = run_to_memory(agg, output_mode="complete")
    return (
        drained
        .groupBy("win_start", "event_type")
        .agg(F.sum(F.bit_count("word")).cast("bigint").alias("distinct_users"))
    )


@query(
    "s43_stream_last_touch",
    oracle=LAST_TOUCH_ORACLE,
    tags=("streaming", "stateful", "attribution"),
)
def s43_stream_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time last-touch attribution (streaming twin of batch b87):
    a custom stateful operator (applyInPandasWithState,
    streaming/stateful.py:streaming_last_touch) carries ONE
    (touch_type, touch_ts) pair per user and emits each purchase
    credited to the last preceding non-purchase touch within the 7-day
    lookback (else 'direct'); the channel rollup happens batch-side on
    the drained attributions. Where b87 answers "what drove last
    month's revenue" with one window over history, this answers it
    continuously with O(1) state per user — the production shape for a
    live marketing dashboard. Same oracle as b87: two execution
    strategies, one attribution semantics."""
    from ..streaming.stateful import streaming_last_touch
    from .helpers import dsum

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    drained = run_to_memory(streaming_last_touch(ev), output_mode="append")
    return (
        drained
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            dsum("value", "revenue"),
        )
    )


@query(
    "s44_stream_ab_monitor",
    oracle=WELCH_TTEST_ORACLE,
    tags=("streaming", "stats", "abtest"),
)
def s44_stream_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live A/B experiment monitor (streaming twin of batch b88): the
    stream maintains only the per-(metric, variant) EXACT power sums
    (n, Σx, Σx² in DECIMAL — associative, order-free, so replay and
    micro-batch boundaries cannot change them), and the Welch t / df /
    significance math runs at serve time on the tiny rollup — the s38
    state/serve split applied to experiment stats. This is the
    production dashboard shape: state is O(metrics × variants)
    regardless of traffic, and the serve-time formula is shared code
    with b88 (queries/helpers.py:welch_from_power_sums), so the live
    readout can never drift from the offline scorecard."""
    from .helpers import welch_from_power_sums

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    x = F.col("value").cast("decimal(18,2)")
    g = F.col("user_id") % 2
    agg = ev.groupBy("event_type").agg(
        F.sum(F.when(g == 0, 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(g == 1, 1).otherwise(0)).cast("bigint").alias("nb"),
        F.sum(F.when(g == 0, x)).alias("sxa_dec"),
        F.sum(F.when(g == 1, x)).alias("sxb_dec"),
        F.sum(F.when(g == 0, x * x)).alias("sxxa_dec"),
        F.sum(F.when(g == 1, x * x)).alias("sxxb_dec"),
    )
    s = run_to_memory(agg, output_mode="complete").select(
        "event_type",
        "na",
        "nb",
        F.col("sxa_dec").cast("double").alias("sxa"),
        F.col("sxb_dec").cast("double").alias("sxb"),
        F.col("sxxa_dec").cast("double").alias("sxxa"),
        F.col("sxxb_dec").cast("double").alias("sxxb"),
    )
    return welch_from_power_sums(s)


@query(
    "s45_stream_session_windows",
    oracle="""
WITH mx AS (
  SELECT max(ts) - INTERVAL 51 MINUTE AS hz FROM events
), ordered AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 20 MINUTE
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM events
), isl AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
), sess AS (
  SELECT user_id, min(ts) AS session_start,
         max(ts) + INTERVAL 20 MINUTE AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM isl GROUP BY user_id, sid
)
SELECT s.user_id, s.session_start, s.session_end, s.n_events
FROM sess s, mx WHERE s.session_end <= mx.hz
""",
    tags=("streaming", "session"),
)
def s45_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION windows — the stateful windowing b25's batch
    sessionization can't stand in for: ``session_window(ts, 20 min)``
    per user on a real watermarked stream, where the state store must
    MERGE adjacent per-event windows as events arrive and emit a
    session only when the 30-minute watermark passes its close (append
    mode: eviction doubles as emission, the s33 contract). The final
    availableNow no-data micro-batch flushes evictable sessions, so
    every session closed 51+ minutes (watermark 30 + gap 20 + 1
    boundary margin) before the stream's end has a definitive row;
    both sides restrict to that horizon — sessions newer than it are
    still open or awaiting the watermark at end-of-replay, exactly as
    on a live stream.

    Oracle: batch gaps-and-islands (break at gap >= 20 min) over the
    same events — two independent sessionizations (state-store merge
    vs window-function islands) that must agree on every session.

    Scale: state is one (user, open-session) accumulator bounded by
    the watermark horizon — O(active users), not O(stream); the
    shuffle is one hash exchange on user_id sized by
    the state partition count (thousands on a real cluster)."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    sess = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(
            F.session_window("ts", "20 minutes"), F.col("user_id")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    drained = run_to_memory(sess, output_mode="append")
    hz = load(spark, sf_dir, "events").agg(
        (F.max("ts") - F.expr("INTERVAL 51 MINUTES")).alias("hz")
    )
    return (
        drained
        .crossJoin(F.broadcast(hz))
        .filter(F.col("session_end") <= F.col("hz"))
        .drop("hz")
    )


@query(
    "s47_stream_dedup_within_watermark",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_unique,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids
FROM events GROUP BY event_type
""",
    tags=("streaming", "dedup", "state"),
)
def s47_stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`dropDuplicatesWithinWatermark` — B23 upgraded to the API whose
    state is PROVABLY bounded: plain `dropDuplicates` keeps every seen
    key until the watermark passes the key's own event time (s23), but
    redeliveries in real transports arrive within a bounded lag of the
    first delivery, and this operator keys eviction on that DELIVERY
    gap instead — state holds only the ids seen within the last
    watermark window, a hard O(rate x horizon) bound independent of
    stream lifetime. That difference is THE distinction between a
    dedup that survives a year-long 100 TB stream and one whose state
    store grows forever.

    The events file is delivered twice (at-least-once simulation, both
    copies inside one horizon); per-type counts and id sums must equal
    the single-copy batch aggregate exactly."""
    indir = _tmp("s47_in_")
    src = f"{sf_dir}/events.parquet"
    os.symlink(src, os.path.join(indir, "copy1.parquet"))
    os.symlink(src, os.path.join(indir, "copy2.parquet"))
    ev = read_events_stream(spark, indir)
    deduped = ev.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    drained = run_to_memory(deduped, output_mode="append")
    return (
        drained
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_unique"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
    )


@query(
    "s48_stream_scd2_dimension",
    oracle=SCD2_MERGE_ORACLE,
    tags=("streaming", "scd", "dimension"),
)
def s48_stream_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 dimension maintenance — b84's merge running live:
    the observation feed arrives as TIME-ORDERED micro-batches
    (maxFilesPerTrigger=1, file mtimes pinned so batch order is
    deterministic), and each foreachBatch applies
    operators/scd.py:scd2_apply against the versioned parquet dim
    state. The contract this proves is batch/stream PARITY: applying
    the merge incrementally batch-by-batch must produce the identical
    dimension as b84's one-shot apply — same oracle string, to the
    hash. That holds because suppression compares each observation to
    the key's latest surviving version, which composes across batches
    when batches respect time order (the scd2_apply caller contract).

    Scale: per micro-batch cost is one key-shuffle window over
    (open rows ∪ batch) — dimension-sized, not fact-sized; closed
    history passes through untouched, exactly the batch plan."""
    from ..operators.scd import scd2_apply

    c = load(spark, sf_dir, "customer")
    t0 = F.lit("2023-01-01 00:00:00").cast("timestamp")
    t1 = F.lit("2024-02-01 00:00:00").cast("timestamp")
    t2 = F.lit("2024-03-01 00:00:00").cast("timestamp")
    k = F.col("c_custkey")
    current = c.select(
        k.cast("long").alias("c_custkey"),
        "c_mktsegment",
        t0.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    ).unionByName(
        c.filter(k % 10 == 7).select(
            k.cast("long").alias("c_custkey"),
            F.lit("ANCIENT").alias("c_mktsegment"),
            F.lit("2022-01-01 00:00:00").cast("timestamp").alias("valid_from"),
            t0.alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    batch1 = (
        c.filter(k % 4 == 1)
        .select(
            k.cast("long").alias("c_custkey"),
            F.concat(F.lit("S"), (k % 3).cast("string")).alias("c_mktsegment"),
            t1.alias("observed_at"),
        )
        .unionByName(
            c.filter(k % 10 == 2).select(
                k.cast("long").alias("c_custkey"),
                F.col("c_mktsegment"),
                t1.alias("observed_at"),
            )
        )
        .unionByName(
            c.filter(k % 10 == 3).select(
                (-k).cast("long").alias("c_custkey"),
                F.lit("NEWSEG").alias("c_mktsegment"),
                t1.alias("observed_at"),
            )
        )
    )
    batch2 = c.filter(k % 8 == 5).select(
        k.cast("long").alias("c_custkey"),
        F.concat(F.lit("T"), (k % 3).cast("string")).alias("c_mktsegment"),
        t2.alias("observed_at"),
    )

    indir = _tmp("s48_in_")
    state_root = _tmp("s48_state_")
    cp = _tmp("s48_cp_")
    stage_ordered(indir, [("obs_0.parquet", batch1), ("obs_1.parquet", batch2)])

    current.write.mode("overwrite").parquet(os.path.join(state_root, "v0"))

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        versions = sorted(os.listdir(state_root))
        state = s.read.parquet(os.path.join(state_root, versions[-1]))
        new = scd2_apply(state, batch, ["c_custkey"], ["c_mktsegment"])
        new.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{batch_id + 1}")
        )

    stream = (
        spark.readStream.schema(
            "c_custkey long, c_mktsegment string, observed_at timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    versions = sorted(os.listdir(state_root))
    return spark.read.parquet(os.path.join(state_root, versions[-1]))


@query(
    "s49_stream_ivf_maintenance",
    oracle="""
SELECT CAST(-1 AS BIGINT) AS probe_id, TRUE AS ok
UNION ALL SELECT CAST(-2 AS BIGINT), TRUE
""",
    tags=("streaming", "similarity", "layout"),
)
def s49_stream_ivf_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maintenance of the d91 IVF index at rest — the
    ingest half of a vector store: embedding rows arrive as a stream,
    each micro-batch assigns cells against the SAME frozen coarse
    quantizer (codebooks are trained offline and versioned; assignment
    is embarrassingly parallel) and APPENDS to the partitioned index —
    one directory write per touched inverted list, no read-modify-
    write, no shuffle beyond the Arrow assigner. d91's DPP-pruned
    probe then serves fresh vectors immediately.

    Gate (all-TRUE oracle, non-SQL kernel so gate-style by design):
    - probe -1: after the backlog drains, the streamed index holds
      EXACTLY the batch-built assignment — same (vec_id, cell) set
      (streaming ingest is a reorder of a deterministic map, so
      equality is exact, not approximate).
    - probe -2: no loss/duplication — index row count == corpus rows.

    Scale: state is ZERO (the quantizer is a broadcast constant;
    nothing stateful accumulates), so backpressure is pure sink
    bandwidth; compaction of hot cells composes via b63 per
    directory."""
    from ..operators import similarity as S

    em = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    C = S._centroids(em, 16, "vec_id", "embedding")
    out = _tmp("s49_idx_")
    cp = _tmp("s49_cp_")

    src_dir = tempfile.mkdtemp(prefix="s49_src_")
    os.symlink(
        f"{sf_dir}/embeddings.parquet",
        os.path.join(src_dir, "embeddings.parquet"),
    )
    stream = spark.readStream.schema(em.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)

    def apply(batch: DataFrame, batch_id: int) -> None:
        batch.withColumn(
            "cell", S._nearest_cell(C, F.col("embedding"))
        ).write.mode("append").partitionBy("cell").parquet(out)

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    streamed = spark.read.parquet(out).select("vec_id", "cell")
    batch_idx = em.select(
        "vec_id", S._nearest_cell(C, F.col("embedding")).alias("cell")
    )
    same = set_gate(["vec_id", "cell"], batch_idx, same=[(streamed, -1)])
    counts = (
        streamed.agg(F.count("*").alias("a"))
        .crossJoin(em.agg(F.count("*").alias("b")))
        .select(
            F.lit(-2).cast("long").alias("probe_id"),
            (F.col("a") == F.col("b")).alias("ok"),
        )
    )
    return same.unionByName(counts)


def _late_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Four-file replay directory for s50's watermark gate, generated
    once per (sf, source fingerprint) and shared read-only:

    - ``a_base``     — every event, delivered on time;
    - ``b_heartbeat``— one marker row at max(ts): the batch that
      ADVANCES the watermark before any late row arrives (Spark >= 3.4
      filters late input against the watermark lagged one batch behind
      eviction — SPARK-42376's two-watermark split, verified by probe —
      so without this batch nothing would ever be dropped);
    - ``c_late``     — the late traffic: redeliveries of every
      ``event_id % 100 == 0`` row (too late iff its hour window closed
      under max(ts) - 10 min) plus ``event_id % 97 == 0`` copies
      re-stamped at max(ts) - 5 min (late but inside the watermark —
      must ALL be kept);
    - ``d_sentinel`` — one far-future row whose only job is to push
      the final watermark past every real window so append mode emits
      them; its own window never closes, so it self-excludes.

    Files are Spark-written (uniform normalized timestamps) and staged
    in this order by ``stage_ordered``, so the file source replays them
    one file per micro-batch."""
    import datetime

    def build(indir: str) -> None:
        ev = load(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        mx = ev.agg(F.max("ts")).collect()[0][0]  # bounded: one scalar
        heartbeat = spark.createDataFrame(
            [(-1, mx, -1, "heartbeat", 0.0)], ev.schema
        )
        sentinel = spark.createDataFrame(
            [(-2, mx + datetime.timedelta(days=2), -2, "sentinel", 0.0)],
            ev.schema,
        )
        late = ev.filter(F.col("event_id") % 100 == 0).unionByName(
            ev.filter(F.col("event_id") % 97 == 0).withColumn(
                "ts", F.lit(mx) - F.expr("INTERVAL 5 MINUTES")
            )
        )
        stage_ordered(indir, [
            ("a_base.parquet", ev),
            ("b_heartbeat.parquet", heartbeat),
            ("c_late.parquet", late),
            ("d_sentinel.parquet", sentinel),
        ])

    return derived("s50_late", f"{sf_dir}/events.parquet", build)


@query(
    "s50_stream_late_data_watermark",
    oracle="""
WITH m AS (SELECT MAX(ts) AS mx FROM events),
inp AS (
  SELECT ts, event_type, value FROM events
  UNION ALL
  SELECT mx, 'heartbeat', 0.0 FROM m
  UNION ALL
  SELECT ts, event_type, value FROM events, m
  WHERE event_id % 100 = 0
    AND time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
        > mx - INTERVAL '10 minutes'
  UNION ALL
  SELECT mx - INTERVAL '5 minutes' AS ts, event_type, value
  FROM events, m WHERE event_id % 97 = 0
)
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(value) AS DOUBLE) AS sum_value
FROM inp GROUP BY 1, 2
""",
    tags=("streaming", "watermark", "late-data"),
)
def s50_stream_late_data_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """B22 watermark + late data, ORACLE-CHECKED (the last §2B row
    that had only semantic coverage): a windowed append-mode
    aggregation over a replay with PLANTED late arrivals, compared to
    the closed-form batch answer that keeps exactly the late rows the
    watermark admits. The replay (``_late_events_dir``) delivers
    on-time data, a watermark-advancing heartbeat, then the late
    batch; after the heartbeat the effective late-event watermark is
    max(ts) - 10 min, so a late row survives iff its hour window is
    still open (window end > watermark) — redelivered old rows drop,
    the re-stamped near-max rows all survive. The oracle states that
    admission rule in SQL; rows_match + hash_match therefore verify
    Spark's actual drop/keep behavior, not just that a stream ran.

    Scale: this is THE mechanism that bounds streaming-agg state at
    100 TB/day — windows older than the watermark are finalized,
    emitted once, and evicted, so state is O(open windows x types),
    independent of stream length; the late filter is a comparison
    against a broadcast scalar, not a lookup."""
    indir = _late_events_dir(spark, sf_dir)
    schema = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, output_mode="append")


def _time_sliced_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Three-file replay of the events table sliced by event time
    (thirds of the [min, max] span), mtime-spaced so the file source
    delivers one slice per micro-batch in time order — the arrangement
    under which per-key event-time-ordered arrival holds ACROSS
    micro-batches by construction (the ordering contract of the
    custom stateful operators; a Kafka topic partitioned by user with
    in-order producers gives the same guarantee)."""

    def build(indir: str) -> None:
        ev = load(spark, sf_dir, "events")
        lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
        cut1 = lo + (hi - lo) / 3
        cut2 = lo + 2 * (hi - lo) / 3
        ts = F.col("ts")
        stage_ordered(indir, [
            ("a_slice.parquet", ev.filter(ts < F.lit(cut1))),
            ("b_slice.parquet", ev.filter((ts >= F.lit(cut1)) & (ts < F.lit(cut2)))),
            ("c_slice.parquet", ev.filter(ts >= F.lit(cut2))),
        ])

    return derived("s51_slices", f"{sf_dir}/events.parquet", build)


@query(
    "s51_stream_sequence_detect",
    oracle=SEQUENCE_DETECT_ORACLE,
    tags=("streaming", "stateful", "scan"),
)
def s51_stream_sequence_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k72's windowed sequence automaton as a REAL incremental stream
    (streaming/stateful.py:streaming_sequence_detect): the events
    table replays as three time-sliced micro-batches through
    ``applyInPandasWithState``, the per-user automaton carry —
    (step, first ts, previous ts, stamps), a FIXED-width tuple —
    lives in the checkpointed state store and crosses batch
    boundaries, and each completed view->click->purchase sequence
    (24h step / 96h span windows) emits its per-step timestamps in
    the batch that completes it.

    The oracle is k72's recursive-CTE automaton VERBATIM — the same
    closed-form answer verifies the batch compiler and the streaming
    state machine, which is the unified-engine contract stated as
    strongly as it can be: a custom stateful streaming operator with a
    value-exact SQL oracle, not just a gate. State is O(1) per user
    regardless of stream length — the property that distinguishes a
    deployable pattern matcher from one whose state store grows with
    the stream."""
    from ..streaming.stateful import streaming_sequence_detect

    indir = _time_sliced_events_dir(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    return run_to_memory(streaming_sequence_detect(ev), output_mode="append")


@query(
    "s52_stream_late_shipment_monitor",
    oracle="""
WITH __h AS (
  SELECT *, (l_orderkey * 31 + l_linenumber) AS h FROM lineitem
), lineitem_s AS (
  SELECT *,
    CASE (h % 7) WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
      WHEN 3 THEN 'RAIL' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'FOB'
      ELSE 'REG AIR' END AS l_shipmode,
    l_shipdate + ((h % 61) - 30) * INTERVAL 1 DAY AS l_commitdate,
    l_shipdate + ((h * 7 % 30) + 1) * INTERVAL 1 DAY AS l_receiptdate
  FROM __h
)
SELECT time_bucket(INTERVAL '30 days', l_receiptdate,
                   TIMESTAMP '1995-01-01 00:00:00') AS win_start,
       l_shipmode,
       CAST(COUNT(*) AS BIGINT) AS late_lines
FROM lineitem_s
WHERE l_commitdate < l_receiptdate AND l_shipdate < l_commitdate
GROUP BY 1, 2
""",
    tags=("streaming", "tpch"),
)
def s52_stream_late_shipment_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """b114's (Q12) streaming twin — the late-shipment operations
    monitor: lineitem replayed through a file stream, shipping columns
    DERIVED in-stream (with_shipping_columns is pure projection —
    stream-safe by construction), late lines (ship < commit < receipt)
    counted per (30-day receipt window, ship mode) in the state store,
    complete-mode memory sink; must equal the batch/DuckDB derivation
    exactly (the unified-batch/streaming contract, s21's discipline).

    Scale shape: the derivation adds zero state — only the windowed
    count aggregation holds state, keyed (window, mode): bounded by
    horizon x 7 modes. One shuffle; filters evaluate before it."""
    import tempfile

    from ..queries.relational import with_shipping_columns

    src = f"{sf_dir}/lineitem.parquet"
    schema = load(spark, sf_dir, "lineitem").schema
    d = tempfile.mkdtemp(prefix="s52_lineitem_")
    if os.path.isdir(src):
        # directory-shaped table (multi-file corpora): the file source
        # does not follow a nested directory symlink — link each part
        import glob as _glob

        for i, f in enumerate(
            sorted(_glob.glob(os.path.join(src, "*.parquet")))
        ):
            os.symlink(f, os.path.join(d, f"part_{i:05d}.parquet"))
    else:
        os.symlink(src, os.path.join(d, "lineitem.parquet"))
    li = with_shipping_columns(
        spark.readStream.schema(schema).parquet(d)
    ).filter(
        (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate") < F.col("l_commitdate"))
    )
    agg = (
        li.groupBy(
            # startTime aligns Spark's epoch-anchored windows to the
            # oracle's 1995-01-01 origin: 1995-01-01 is epoch day
            # 9131, 9131 % 30 = 11
            F.window("l_receiptdate", "30 days", startTime="11 days"),
            "l_shipmode",
        )
        .agg(F.count("*").alias("late_lines"))
        .select(
            F.col("window.start").alias("win_start"),
            "l_shipmode",
            "late_lines",
        )
    )
    return run_to_memory(agg, output_mode="complete")


@query(
    "s53_stream_new_user_metrics",
    oracle=ACTIVITY_COUNTS_ORACLE,
    tags=("streaming", "activity", "stateful"),
)
def s53_stream_new_user_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming activity-counts / new-user metrics — k82's datasheet
    computed LIVE: the events table replayed as three time-ordered
    micro-batches (s51's sliced replay), an update-mode per-(day,
    user) counting aggregation carrying state ACROSS batches (a user
    first seen in batch 1 must not count as new again in batch 3),
    then the cohort reconciliation — per-day events, distinct users,
    NEW users (first-ever day) and the running distinct union — over
    the drained sink. Update-mode re-emissions are collapsed by
    max(cnt) per key (counting state is monotone), so the result is
    independent of how the replay happened to batch.

    Scale: state is one counter per (open day-window, user), bounded
    by the 30-day watermark — eviction is what survives a year-long
    stream; the reconciliation aggregates the SINK (key-cardinality,
    not event-cardinality). The oracle is the identical closed-form
    batch answer (k82's SQL)."""
    indir = _time_sliced_events_dir(spark, sf_dir)
    schema = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).schema
    start = "2024-01-01 00:00:00"
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
        .filter(
            (F.col("ts") >= F.lit(start).cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-29 00:00:00").cast("timestamp"))
        )
    )
    per = (
        ev.withWatermark("ts", "30 days")
        .groupBy(F.window("ts", "1 day"), "user_id")
        .agg(F.count("*").alias("cnt"))
    )
    sink = run_to_memory(per, output_mode="update")
    per_final = sink.groupBy(
        F.col("window.start").alias("day"), "user_id"
    ).agg(F.max("cnt").alias("cnt"))
    per_bin = per_final.groupBy("day").agg(
        F.sum("cnt").cast("long").alias("count"),
        F.count("*").cast("long").alias("dcount"),
    )
    new_bin = (
        per_final.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("new_dcount"))
    )
    grid = spark.range(28).select(
        F.timestamp_micros(
            F.unix_micros(F.lit(start).cast("timestamp"))
            + F.col("id") * F.lit(86_400_000_000)
        ).alias("day")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.join(per_bin, "day", "left")
        .join(new_bin, "day", "left")
        .select(
            F.col("day").alias("Timestamp"),
            F.coalesce("count", F.lit(0)).cast("long").alias("count"),
            F.coalesce("dcount", F.lit(0)).cast("long").alias("dcount"),
            F.coalesce("new_dcount", F.lit(0))
            .cast("long")
            .alias("new_dcount"),
            F.sum(F.coalesce("new_dcount", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("aggregated_dcount"),
        )
    )


@query(
    "s54_stream_hll_distinct",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS du_bounded, TRUE AS est_parity
FROM events GROUP BY 1
""",
    tags=("streaming", "sketch"),
)
def s54_stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user counting via MERGEABLE HLL sketch state
    (b41's sketch-at-rest algebra run live): count(distinct) is not
    expressible in a streaming aggregation, so the stream keeps one
    hll_sketch_agg per (day, event_type) in the state store —
    micro-batch increments merge sketch-side, O(2^lgK) state per open
    window regardless of user cardinality — and the sink read unions
    the daily sketches per type (hll_union_agg) for the
    full-horizon estimate. Two gates ride the oracle:

    - ``du_bounded`` — the streamed estimate lands within 5% of the
      exact batch recount (b41's bound; lgK=12 is ~1.6% typical);
    - ``est_parity`` — the streamed union estimate EQUALS the batch
      pipeline's estimate over the same per-day sketch shape
      (register-max union is order-insensitive, so micro-batching
      must not change a single register — the unified batch/streaming
      contract at sketch granularity, exact even where the estimate
      itself is approximate).

    Scale shape: state is one 4 KB sketch per open (day, type) window;
    the sink moves sketches, never user ids; the exact recount exists
    only to verify the sketch and is batch-side."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        ev.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.col("window.start").alias("day"), "event_type", "sk", "n")
    )
    drained = run_to_memory(agg, output_mode="complete")
    streamed = (
        drained
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("du_est"),
        )
    )
    events = load(spark, sf_dir, "events")
    batch = (
        events.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("du_batch"))
        .join(
            events.groupBy("event_type").agg(
                F.countDistinct("user_id").alias("du_exact")
            ),
            "event_type",
        )
    )
    return streamed.join(batch, "event_type").select(
        "event_type",
        "n_events",
        (
            F.abs(F.col("du_est") - F.col("du_exact"))
            / F.col("du_exact")
            <= 0.05
        ).alias("du_bounded"),
        (F.col("du_est") == F.col("du_batch")).alias("est_parity"),
    )


@query(
    "s55_stream_space_saving_topk",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(LEAST(64, COUNT(DISTINCT user_id)) AS BIGINT) AS n_tracked,
       TRUE AS count_parity, TRUE AS coverage_ok, TRUE AS bounds_ok
FROM events GROUP BY 1
""",
    tags=("streaming", "sketch", "heavy-hitters"),
)
def s55_stream_space_saving_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming heavy hitters via space-saving counters
    (streaming/stateful.py:streaming_space_saving): the events table
    replays as three time-sliced micro-batches; per event_type at
    most m=64 (user, count, err) counters live in the checkpointed
    state store and cross batch boundaries via the WEIGHTED mergeable
    fold. Three oracle-checked gates ride the exact per-type rollup:

    - ``count_parity`` — Σ counters == events processed (the
      space-saving invariant, so nothing was dropped or double-
      counted across micro-batch boundaries);
    - ``coverage_ok`` — every user whose TRUE count exceeds n/m is
      tracked (the Metwally guarantee, batch-split-invariant);
    - ``bounds_ok`` — every tracked counter brackets its true count:
      c - err <= true <= c.

    n_tracked is exact (min(m, distinct users) — counters are only
    ever REPLACED, never freed), so the tracked-set size is value-
    checked too. State is O(m) per key regardless of stream length or
    user cardinality — the deployable property; the guarantees hold
    for ANY micro-batch split, so the gates verify the algorithm, not
    the replay's luck."""
    from ..streaming.stateful import streaming_space_saving

    indir = _time_sliced_events_dir(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    sink = run_to_memory(streaming_space_saving(ev, m=64), output_mode="append")
    latest = sink.withColumn(
        "__mx",
        F.max("n_seen").over(Window.partitionBy("event_type")),
    ).filter(F.col("n_seen") == F.col("__mx"))
    events = load(spark, sf_dir, "events")
    exact = events.groupBy("event_type", "user_id").agg(
        F.count("*").alias("cnt")
    )
    n_ev = events.groupBy("event_type").agg(
        F.count("*").alias("n_events")
    )
    heavy_missing = (
        exact.join(F.broadcast(n_ev), "event_type")
        .filter(F.col("cnt") * 64 > F.col("n_events"))
        .join(
            latest.select("event_type", "user_id"),
            ["event_type", "user_id"],
            "left_anti",
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_missing"))
    )
    checked = (
        latest.join(exact, ["event_type", "user_id"], "left")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_tracked"),
            F.max("n_seen").alias("n_seen"),
            F.min(
                (F.col("c") >= F.coalesce(F.col("cnt"), F.lit(0)))
                & (
                    F.col("c") - F.col("err")
                    <= F.coalesce(F.col("cnt"), F.lit(0))
                )
            ).alias("bounds_ok"),
        )
    )
    return (
        checked.join(F.broadcast(n_ev), "event_type")
        .join(F.broadcast(heavy_missing), "event_type", "left")
        .select(
            "event_type",
            "n_events",
            "n_tracked",
            (F.col("n_seen") == F.col("n_events")).alias("count_parity"),
            (F.coalesce(F.col("n_missing"), F.lit(0)) == 0).alias(
                "coverage_ok"
            ),
            "bounds_ok",
        )
    )


@query(
    "s56_stream_kll_quantile",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS n_parity, TRUE AS p50_ok, TRUE AS p95_ok
FROM events GROUP BY 1
""",
    tags=("streaming", "sketch", "quantile"),
)
def s56_stream_kll_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGEABLE quantile state — b118's KLL sketches run
    live (and the mergeable complement of s39's GK percentile
    monitor, whose per-window estimates cannot be unioned after the
    fact): one `kll_sketch_agg_double` per (day, event_type) window
    accumulates in the state store — O(k log n) bytes per open window
    regardless of event rate — and the sink read answers ANY horizon
    by merging the daily sketches (`kll_merge_agg_double`), exactly
    the at-rest algebra of b118.

    Gates on the oracle's exact per-type rollup:
    - ``n_parity`` — every daily sketch's `kll_sketch_get_n` equals
      the window's exact streamed count (nothing dropped at
      micro-batch boundaries);
    - ``p50_ok``/``p95_ok`` — the TRUE rank of each merged-horizon
      estimate is within 2.5% of the requested rank, against a
      batch-side conditional recount (KLL's k=200 bound + headroom;
      rank-based, so it holds regardless of sketch-internal
      compaction order across micro-batches).

    Scale shape: state and sink move sketches, never values; the
    recount exists only to verify."""
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        ev.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.kll_sketch_agg_double("value").alias("sk"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.col("window.start").alias("day"), "event_type", "sk", "n")
    )
    drained = run_to_memory(agg, output_mode="complete")
    streamed = (
        drained
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.min(
                F.kll_sketch_get_n_double("sk") == F.col("n")
            ).alias("n_parity"),
            F.kll_sketch_get_quantile_double(
                F.kll_merge_agg_double("sk"), F.lit(0.5)
            ).alias("e50"),
            F.kll_sketch_get_quantile_double(
                F.kll_merge_agg_double("sk"), F.lit(0.95)
            ).alias("e95"),
        )
    )
    events = load(spark, sf_dir, "events")
    ranks = (
        events.join(F.broadcast(streamed), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n_events").alias("n_events"),
            F.first("n_parity").alias("n_parity"),
            (
                F.sum(F.when(F.col("value") <= F.col("e50"), 1).otherwise(0))
                / F.count("*")
            ).alias("r50"),
            (
                F.sum(F.when(F.col("value") <= F.col("e95"), 1).otherwise(0))
                / F.count("*")
            ).alias("r95"),
        )
    )
    eps = 0.025
    return ranks.select(
        "event_type",
        "n_events",
        "n_parity",
        (F.abs(F.col("r50") - 0.5) <= eps).alias("p50_ok"),
        (F.abs(F.col("r95") - 0.95) <= eps).alias("p95_ok"),
    )


@query(
    "s57_stream_multitouch_attribution",
    oracle=MULTITOUCH_ORACLE,
    tags=("streaming", "attribution", "stateful"),
)
def s57_stream_multitouch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """b119's U-shaped multi-touch attribution run as a REAL
    incremental stream (streaming/stateful.py:
    streaming_multitouch_attribution): the events table replays as
    three time-sliced micro-batches, the per-user touch buffer inside
    the 7-day horizon crosses batch boundaries in the checkpointed
    state store (O(rate × horizon), pruned every event), and each
    purchase emits its integer-micro credit rows in the batch that
    contains it.

    The oracle is b119's SQL VERBATIM — the same closed-form credit
    table verifies the batch plan and the streaming state machine
    (the s51/k72 unified-engine contract). The strict
    touch-before-purchase compare, inclusive lookback, and HALF-UP
    micro quantization are mirrored bit-for-bit in the kernel."""
    from ..streaming.stateful import streaming_multitouch_attribution

    indir = _time_sliced_events_dir(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    drained = run_to_memory(streaming_multitouch_attribution(ev), output_mode="append")
    return (
        drained
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            (F.sum("cr").cast("long") / F.lit(1e6)).alias("credited_value"),
        )
        .orderBy("channel")
    )


@query(
    "s58_stream_cusum_changepoint",
    oracle="""
WITH p AS (
  SELECT event_type, ts, event_id,
         SUM(value - 50.0 - 5.0) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS ps
  FROM events
), s AS (
  SELECT event_type, ts, event_id,
         ps - LEAST(MIN(ps) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING), 0.0) AS stat
  FROM p
), c AS (
  SELECT *, LAG(stat, 1, 0.0) OVER (
    PARTITION BY event_type ORDER BY ts, event_id) AS prev
  FROM s
)
SELECT event_type, ts, event_id, stat
FROM c WHERE stat > 250.0 AND prev <= 250.0
""",
    tags=("streaming", "stateful", "monitoring"),
)
def s58_stream_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM change-point detection (Page 1954;
    streaming/stateful.py:streaming_cusum): per event_type, the
    one-sided drift statistic S_t = max(0, S_{t-1} + x - mu0 - slack)
    tracked live across three time-sliced micro-batches, one alarm
    row per threshold UP-CROSSING (mu0=50, slack=5, h=250 — tuned so
    crossings exist at every test SF). The no-reset crossing form
    keeps the operator SQL-closed (S_t = P_t - min prefix P), so the
    oracle verifies the streaming state machine VALUE-EXACTLY —
    cumsum fold order is pinned sequential on both sides.

    State is three doubles per key whatever the stream length — the
    bounded-state property; per-batch work is four numpy accumulate
    passes over the key's rows (no per-row Python)."""
    from ..streaming.stateful import streaming_cusum

    indir = _time_sliced_events_dir(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    return run_to_memory(streaming_cusum(ev), output_mode="append")


@query(
    "s59_stream_counter_rate",
    oracle="""
WITH c AS (
  SELECT event_type, ts, event_id,
         SUM(CAST(FLOOR(value * 100) AS BIGINT)) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) % 10000000 AS cnt
  FROM events
), d AS (
  SELECT event_type, ts, cnt,
         cnt - LAG(cnt) OVER (
           PARTITION BY event_type ORDER BY ts, event_id) AS delta
  FROM c
), i AS (
  SELECT event_type, ts,
         CASE WHEN delta IS NULL THEN 0
              WHEN delta >= 0 THEN delta ELSE cnt END AS inc,
         CASE WHEN delta < 0 THEN 1 ELSE 0 END AS rst
  FROM d
)
SELECT event_type,
       time_bucket(INTERVAL '7 days', ts,
                   TIMESTAMP '2024-01-01 00:00:00') AS win_start,
       CAST(SUM(inc) AS BIGINT) AS total_increase,
       CAST(SUM(rst) AS BIGINT) AS n_resets
FROM i GROUP BY 1, 2
""",
    tags=("streaming", "stateful", "monitoring"),
)
def s59_stream_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus-style counter ``increase()`` with reset handling
    (streaming/stateful.py:streaming_counter_increase): per
    event_type, a monotonic-with-resets counter (derived
    deterministically so the SQL twin replays it) streams through
    three time-sliced micro-batches; the stateful stage emits the
    reset-adjusted per-event increment LIVE (delta, or the post-reset
    counter value, Prometheus's convention), carrying (running total,
    last counter, seen) across batches; the drained sink rolls up to
    7-day windows of total increase + reset count — the
    counter-semantics query every metrics backend answers.

    Value-exact oracle: integer counters, integer deltas, exact
    window sums; startTime aligns Spark's epoch-anchored 7-day
    windows to the oracle's 2024-01-01 origin (epoch day 19723 ≡ 4
    mod 7)."""
    from ..streaming.stateful import streaming_counter_increase

    indir = _time_sliced_events_dir(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    sink = run_to_memory(streaming_counter_increase(ev), output_mode="append")
    return (
        sink.groupBy(
            F.window("ts", "7 days", startTime="4 days"), "event_type"
        )
        .agg(
            F.sum("inc").cast("long").alias("total_increase"),
            F.sum("rst").cast("long").alias("n_resets"),
        )
        .select(
            "event_type",
            F.col("window.start").alias("win_start"),
            "total_increase",
            "n_resets",
        )
    )


@query(
    "s60_stream_timer_sessions",
    oracle="""
WITH mx AS (
  SELECT max(ts) - INTERVAL 51 MINUTE AS hz FROM events
), ordered AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 20 MINUTE
              THEN 1 ELSE 0 END AS brk,
         ts - lag(ts) OVER w AS gap
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), isl AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
), sess AS (
  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents,
         COALESCE(MAX(CASE WHEN brk = 0
                           THEN EXTRACT(EPOCH FROM gap) END), 0.0)
           AS max_gap_s
  FROM isl GROUP BY user_id, sid
)
SELECT s.user_id, s.session_start, s.session_end, s.n_events,
       s.sum_cents, s.max_gap_s
FROM sess s, mx WHERE s.session_end <= mx.hz
""",
    tags=("streaming", "session", "stateful"),
)
def s60_stream_timer_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sessionization with EVENT-TIME TIMER eviction
    (streaming/stateful.py:streaming_timer_sessions) — the one
    arbitrary-state facility no other entry exercises:
    ``GroupStateTimeout.EventTimeTimeout`` + ``setTimeoutTimestamp``
    close a silent session when the WATERMARK passes last_event+gap
    and ``hasTimedOut`` emits it with ``state.remove()`` — timer
    eviction is how a production session store stays O(active keys)
    when users never return. Carries per-session stats the built-in
    session_window aggregate (s45) can't express together: exact
    integer value cents, max intra-session gap, event count.

    Both sides restrict to sessions closed 51+ minutes before the
    stream's end (watermark 30 + gap 20 + 1 margin — the s45 horizon
    contract): inside it, every session has a definitive row whether
    it closed by a later event (emitted in that batch) or by timer
    (emitted when the final availableNow no-data batch advances the
    watermark). Oracle: batch gaps-and-islands with the identical
    STRICT > 20 min break, value-exact."""
    from ..streaming.stateful import streaming_timer_sessions

    indir = _time_sliced_events_dir(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
        .withWatermark("ts", "30 minutes")
    )
    sink = run_to_memory(streaming_timer_sessions(ev), output_mode="append")
    hz = (
        load(spark, sf_dir, "events")
        .agg(
            (F.max("ts") - F.expr("INTERVAL 51 MINUTES")).alias("hz")
        )
    )
    return sink.crossJoin(F.broadcast(hz)).filter(
        F.col("session_end") <= F.col("hz")
    ).select(
        "user_id", "session_start", "session_end",
        "n_events", "sum_cents", "max_gap_s",
    )


@query(
    "s61_stream_bottomk_sample",
    oracle="""
WITH r AS (
  SELECT event_type, event_id,
         CASE WHEN length(CAST(event_id AS VARCHAR)) = 0 THEN 0 ELSE
           list_reduce(list_transform(
             generate_series(1, length(CAST(event_id AS VARCHAR))),
             i -> CAST(unicode(CAST(event_id AS VARCHAR)[i:i]) AS BIGINT)),
             (acc, c) -> (acc * 31 + c) % 1000000007) END AS rnk
  FROM events
), ranked AS (
  SELECT event_type, event_id, rnk,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY rnk, event_id) AS pos
  FROM r
)
SELECT event_type, CAST(pos AS BIGINT) AS pos, event_id, rnk
FROM ranked WHERE pos <= 32
""",
    tags=("streaming", "sampling", "sketch"),
)
def s61_stream_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic streaming reservoir sample
    (streaming/stateful.py:streaming_bottomk_sample): the events table
    replays as three time-sliced micro-batches; per event_type the
    state carries the 32 elements with the smallest PORTABLE hash rank
    (the bottom-k/KMV sketch used as a sampler — d96's at-rest sketch
    and d31/d44's batch reservoirs are the family twins). Because the
    rank is a pure function of the element (poly-hash of the event id,
    engine-reproducible — the d04x portable discipline), the sample is
    ORDER- AND SPLIT-INVARIANT: ANY micro-batch partitioning of the
    stream yields exactly the batch engine's bottom-k, so the oracle
    checks the streamed sample VALUE-EXACTLY — a uniform random sample
    a differential can verify, which no rand()-based reservoir gives.

    Scale shape: state = two 32-length int64 arrays + a counter per
    key, whatever the stream length or cardinality; per-batch work is
    one vectorized min-k fold (min-k of a union is associative, so the
    cross-batch carry is exactly the batch fold); emission stamps
    cumulative n_seen and the sink read keeps each key's newest sample
    (the s55 convention)."""
    from ..operators.text import poly_hash
    from ..streaming.stateful import streaming_bottomk_sample

    indir = _time_sliced_events_dir(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
        .withColumn(
            "rnk", F.expr(poly_hash("CAST(event_id AS STRING)"))
        )
    )
    sink = run_to_memory(streaming_bottomk_sample(ev, k=32), output_mode="append")
    latest = sink.withColumn(
        "__mx", F.max("n_seen").over(Window.partitionBy("event_type"))
    ).filter(F.col("n_seen") == F.col("__mx"))
    return latest.select("event_type", "pos", "event_id", "rnk")
