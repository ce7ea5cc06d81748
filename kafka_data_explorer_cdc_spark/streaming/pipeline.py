"""The streaming CDC ingestion pipeline — the Spark redesign of the
reference's Debezium→Kafka→Connect→ADX path (SURVEY.md §3.1):

reference (five containers)                 this engine (one streaming query)
---------------------------                 ---------------------------------
Kafka topic of JSON envelopes           →   raw ``value`` stream: text files
                                            (default), kafka, cdc_envelopes
JsonConverter per-record schema         →   from_json(ENVELOPE_SCHEMA)
ExtractNewRecordState SMT               →   unwrap() + flatten_after(): the
                                            flat after-image change row
flush.size/interval batching            →   micro-batch trigger interval
Connect offset topics (at-least-once)   →   checkpointLocation (exact offsets)
Kusto batched ingest + table            →   foreachBatch → ParquetStateSink

Every transport is decoded once, in :func:`start_cdc_pipeline`: the
readers return raw ``value`` streams, so each one dead-letters malformed
records and honours ``after_schema`` the same way.

The at-least-once → effectively-exactly-once upgrade happens in
:class:`ParquetStateSink`, the one state sink: its merge is keyed and
lsn-arbitrated (``cdc/apply.py``'s ``latest_state`` window), so
replayed micro-batches (checkpoint recovery, duplicate delivery) cannot
change state (SURVEY.md §7 hard parts; tests/test_streaming.py's
``test_sink_contract`` proves idempotence, tests/test_cdc.py's
properties check any split and any batch order against a Python
replay).

State storage here is versioned parquet (``state/v{N}``) because this
environment has no transactional table format. Versions are numbered by
the sink's own commit log (:class:`ManifestLog`), not by the batch id,
and a version's files become visible only when its state manifest
commits; they are never rewritten in place. On a table format with its
own log (Delta, Iceberg) the merge becomes one ``MERGE INTO`` and the
manifest log collapses into the table's history; the generic MERGE
algebra is ``operators/merge.merge_into`` (entry b80).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

from ..cdc.apply import latest_state
from ..cdc.envelope import flatten_after, parse_envelope, unwrap


class ManifestLog:
    """The commit log :class:`ParquetStateSink` commits through: one
    ``manifest_v{N}.json`` per committed version, plus ``LATEST``, a
    copy of the newest — the commit point.

    The log numbers its own commits (``LATEST.version + 1``, 0 on an
    empty root), never by the caller's batch id, which restarts with a
    fresh checkpoint. So a data dir written for version N before its
    commit is only ever overwritten while no committed manifest
    references it, i.e. when a crash stranded it. Each file is written
    under a temp name and ``os.replace``d, so readers see the previous
    commit or the next, never a torn one.

    **One visibility rule** for everything else a micro-batch writes
    (dead letters, change feed, aggregate view): an artifact of kind
    ``K`` for version N lives at ``<root>/K/v{N}`` (:meth:`dir`) and is
    visible exactly when N is committed (:meth:`committed`). Before a
    sink writes version N it calls :meth:`clear`, so what a crashed
    attempt at N left behind is never read as the retry's."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, version: int | None = None) -> str:
        name = "LATEST" if version is None else f"manifest_v{version}.json"
        return os.path.join(self.root, name)

    def read(self, version: int | None = None) -> dict | None:
        """The manifest committed as ``version`` (default: the newest),
        or None if there is none."""
        try:
            with open(self.path(version)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def versions(self) -> list[int]:
        """Every retained committed version, oldest first."""
        return sorted(
            int(d[len("manifest_v"):-len(".json")])
            for d in os.listdir(self.root)
            if d.startswith("manifest_v") and d.endswith(".json")
        )

    def drop(self, version: int) -> None:
        os.remove(self.path(version))

    def dir(self, kind: str, version: int) -> str:
        """Where the artifact of ``kind`` for ``version`` is written."""
        return os.path.join(self.root, kind, f"v{version}")

    def committed(self, kind: str) -> dict[int, str]:
        """The dirs of ``kind`` a reader may see — those of committed
        versions — by version, oldest first. Any other entry under
        ``<root>/<kind>`` was not written by this log (an older sink's
        layout), so it raises instead of being skipped."""
        m = self.read()
        base = os.path.join(self.root, kind)
        if m is None or not os.path.isdir(base):
            return {}
        found = []
        for d in os.listdir(base):
            if not (d.startswith("v") and d[1:].isdigit()):
                raise ValueError(
                    f"incompatible {kind} layout at {base}: {d!r} is not a "
                    "v{N} dir (written by an older sink version); "
                    "re-ingest into a fresh state_root"
                )
            found.append(int(d[1:]))
        return {v: self.dir(kind, v) for v in sorted(found) if v <= m["version"]}

    def clear(self, version: int) -> None:
        """Remove every ``<root>/<kind>/v{version}``: what an attempt at
        ``version`` wrote before a crash kept it from committing."""
        for kind in os.listdir(self.root):
            shutil.rmtree(self.dir(kind, version), ignore_errors=True)

    def commit(self, manifest: dict) -> None:
        """Commit ``manifest`` as ``manifest["version"]``: the versioned
        file first, then ``LATEST``."""
        for path in (self.path(manifest["version"]), self.path()):
            with open(path + ".tmp", "w") as f:
                json.dump(manifest, f)
            os.replace(path + ".tmp", path)


def kafka_source_options(
    bootstrap_servers: str,
    topic: str = "myserver.inventory.orders_info",
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The EXACT option dict the Kafka reader passes to
    ``readStream.format("kafka")`` — factored out so the options
    contract is testable in a broker-less container (the load() call
    needs the spark-sql-kafka package; this dict does not).
    ``max_offsets_per_trigger`` is the Kafka twin of the file source's
    ``maxFilesPerTrigger`` — the reference's flush.size.bytes bound
    (adx-sink-config.json:5) mapped onto micro-batch sizing."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def read_kafka_envelopes(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "myserver.inventory.orders_info",
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka source — the production path (reference topic naming,
    ``README.md:259``): the raw record stream, whose binary ``value``
    :func:`start_cdc_pipeline` decodes (pass it as ``source=``).
    Requires the spark-sql-kafka package on the cluster; not exercised
    in this container (no broker). Options are built by
    :func:`kafka_source_options` (contract-pinned in
    tests/test_streaming.py)."""
    return (
        spark.readStream.format("kafka")
        .options(
            **kafka_source_options(
                bootstrap_servers,
                topic,
                starting_offsets,
                max_offsets_per_trigger,
            )
        )
        .load()
    )


def envelope_wire_format(envelopes: DataFrame) -> DataFrame:
    """The exact (key, value) projection the Kafka sink publishes —
    factored out so the file-backed contract test round-trips the SAME
    bytes the broker would carry (write wire → parse_envelope → unwrap
    must reproduce the source rows), keeping the Kafka path covered in
    a broker-less environment."""
    return envelopes.selectExpr("CAST(key AS STRING)", "CAST(value AS STRING)")


def write_kafka_envelopes(
    envelopes: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    trigger_seconds: int = 30,
):
    """Kafka sink — publish (key, value) envelope rows back to a topic
    (the engine as a CDC *producer*, e.g. re-emitting enriched or
    filtered change streams). Expects the ``to_change_envelopes`` shape:
    string ``key``, JSON string ``value``. Exactly-once is inherited
    from the checkpoint + Kafka's idempotent producer; the broker hop
    itself is not exercisable in this container — the wire projection
    and its parse round-trip are contract-tested via
    :func:`envelope_wire_format`."""
    return (
        envelope_wire_format(envelopes)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )


class ParquetStateSink:
    """foreachBatch target: hash-bucketed, versioned-parquet latest-state
    store with INCREMENTAL merges — the pipeline's one state sink.

    **Contract** (``test_sink_contract``): replaying a batch, under the
    same or a new batch id, leaves state unchanged; batch ids restart
    with a fresh checkpoint, so nothing is keyed on them; retained
    tombstones (below) keep stragglers from resurrecting deleted keys;
    ``current()`` returns live rows only.

    State is hash-partitioned into ``n_buckets`` by key
    (``pmod(xxhash64(key), n_buckets)``). A micro-batch reads and
    rewrites ONLY the buckets its keys fall into — merge cost scales
    with the touched fraction of state (≈ batch keyspread / n_buckets),
    not with total state size, which is what keeps a long-running CDC
    stream over a large keyspace viable on plain parquet. Each batch
    writes its touched buckets under an immutable ``v{N}/`` dir, N the
    next version of the sink's :class:`ManifestLog` (sink-numbered, so
    a restarted batch id cannot overwrite committed state), and commits
    a manifest mapping every bucket to the version that last rewrote it
    — the poor man's Delta log; on a transactional format both collapse
    into the table's own MERGE + history. Nothing committed is ever
    rewritten in place, so a crash between write and manifest commit
    leaves the previous state intact.

    **Sizing ``n_buckets``.** ``None`` (the default) means one bucket
    per core (``defaultParallelism``), fixed at the first commit on an
    empty root: small micro-batches touch every bucket anyway, and each
    bucket is one file written and read per batch. Every manifest
    records ``"n_buckets"``; a sink opened on an existing root hashes
    with the recorded count, and an explicit ``n_buckets`` that
    disagrees with it raises ``ValueError`` (rehashing with another
    count would strand each key's stored row in its old bucket). At
    scale, target a bucket of a few hundred MB of state (one executor
    task), so 100 TB of state → O(10⁵) buckets; a micro-batch touching
    k distinct keys rewrites ≤ k buckets.

    **Job shape.** Small micro-batches (the reference seals at 10 kB /
    30 s, ``adx-sink-config.json:5-6``) cost fixed overhead, not data
    volume, so a batch runs at most four Spark jobs: one probe (a noop
    write whose observed metrics give the touched buckets, the lsn
    high-water mark and the row and dead-letter counts, and which
    materializes the persisted batch), the dead-letter write (only if
    the batch has bad rows; it runs in a thread beside the merge, with
    the caller's job group, and is joined before the commit, so a
    failed write commits nothing), and the merge write (its
    shuffle-map job and the write job, with at most one task per core).
    Each manifest records the stored schema, so bucket reads — the
    merge, ``current()``, ``at_version()`` — launch no schema-inference
    job, plus the batch's ``metrics`` (rows in, dead letters, buckets
    touched).

    Malformed envelopes (unparseable JSON, or parseable but keyless /
    sequence-less) never reach the merge: they are written losslessly
    to ``state_root/dead_letter/v{N}`` for inspection and replay — the
    DLQ every production CDC sink needs, since ``from_json`` nulls
    corrupt records instead of failing. Like the change feed and the
    aggregate view, they follow the log's one visibility rule
    (:class:`ManifestLog`): ``dead_letters()`` reads committed versions
    only, so a batch that failed shows none and its replay shows one
    copy.

    **Tombstone retention.** The stored form keeps each key's winning
    DELETE row (``op='d'``) instead of dropping it: micro-batch
    boundaries carry no cross-batch ordering guarantee (file listing
    order under ``maxFilesPerTrigger``, Kafka partition interleave), so
    a lower-lsn straggler for a deleted key can arrive in a later batch
    — without the tombstone's lsn in state, that straggler would win
    the merge and resurrect the key. ``current()``/``at_version()``
    filter ``op != 'd'``, so readers never see tombstones.
    ``tombstone_gc_lsn_lag`` bounds retention: during each merge,
    tombstones whose lsn is more than ``lag`` behind the highest lsn
    ever ingested (tracked in the manifest) are dropped — by then any
    straggler that old is assumed lost/duplicate, the same contract as
    a streaming watermark. Default ``None`` retains forever (always
    correct; tombstones are one row per deleted key, a bounded cost)."""

    def __init__(
        self,
        spark: SparkSession,
        state_root: str,
        key_cols: list[str],
        n_buckets: int | None = None,
        tombstone_gc_lsn_lag: int | None = None,
        on_merge=None,
    ):
        """``on_merge``: optional callback ``(cur, merged, version)``
        invoked once per non-empty micro-batch with the PRE-merge rows
        of the touched buckets (``cur``, None on first batch), the
        post-merge result (``merged``, persisted — reading it is a
        cache hit, not a recompute) and the version the state manifest
        is about to commit. Lets derived artifacts (incremental
        materialized views, change feeds) share the one merge
        computation instead of re-deriving it; called after the state
        files are written, before the manifest commits — so what the
        hook writes at ``log.dir(kind, version)`` becomes visible with
        the state (:meth:`ManifestLog.committed`)."""
        self.spark = spark
        self.root = state_root
        self.key_cols = key_cols
        self.n_buckets = n_buckets
        self.tombstone_gc_lsn_lag = tombstone_gc_lsn_lag
        self.on_merge = on_merge
        self.log = ManifestLog(state_root)

    def dead_letters(self) -> DataFrame | None:
        """The dead-lettered rows of committed versions, or None if none
        has any. Read with the schema the write uses, so a corrupt file
        raises."""
        dirs = self.log.committed("dead_letter")
        if not dirs:
            return None
        return self.spark.read.schema("batch_id int, raw_value string").parquet(
            *dirs.values()
        )

    def _bucket_col(self, n_buckets: int) -> Column:
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.key_cols]), F.lit(n_buckets)
        )

    def _manifest(self, version: int | None = None) -> dict | None:
        m = self.log.read(version)
        if m is None:
            return None
        path = self.log.path(version)
        if "buckets" not in m:
            # pre-bucketing sink versions wrote {"version": n} pointing
            # at a monolithic v{n}/ snapshot; silently reading it as an
            # empty bucket map would present empty state — fail loud.
            raise ValueError(
                f"incompatible state format at {path}: manifest has no "
                "'buckets' key (written by a pre-bucketed sink version); "
                f"re-ingest into a fresh state_root or load v{m.get('version')} "
                "manually as a full snapshot"
            )
        if "schema" not in m:
            # bucket reads take their schema from the manifest; without
            # it, mixed-version buckets would read as whichever schema a
            # footer happened to carry — fail loud instead of guessing
            raise ValueError(
                f"incompatible state format at {path}: manifest has no "
                "'schema' key (written by a sink version that did not "
                "record the state schema); re-ingest into a fresh state_root"
            )
        if "n_buckets" not in m:
            # keys are hashed with the recorded count; without it a
            # guessed count would send a key's update to another bucket
            # and leave its stored row behind — fail loud instead
            raise ValueError(
                f"incompatible state format at {path}: manifest has no "
                "'n_buckets' key (written by a sink version that did not "
                "record its bucket count); re-ingest into a fresh state_root"
            )
        if self.n_buckets is not None and self.n_buckets != m["n_buckets"]:
            raise ValueError(
                f"state at {self.root} is hashed into {m['n_buckets']} "
                f"buckets, not n_buckets={self.n_buckets}; open it with "
                "n_buckets=None to use the recorded count"
            )
        return m

    def _read_buckets(
        self,
        bucket_versions: dict[str, int],
        schema: dict | None,
        only: set[int] | None = None,
    ) -> DataFrame | None:
        """The stored rows (tombstones included) of the mapped buckets,
        read with the manifest's ``schema``: bucket versions written
        before a DDL evolution lack the new columns, and the parquet
        reader null-fills them — ADD COLUMN semantics without a
        schema-inference job."""
        paths = [
            os.path.join(self.root, f"v{ver}", f"__bucket={b}")
            for b, ver in bucket_versions.items()
            if only is None or int(b) in only
        ]
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return None
        return self.spark.read.schema(StructType.fromJson(schema)).parquet(*paths)

    @staticmethod
    def _live(df: DataFrame | None) -> DataFrame | None:
        """Reader view: stored state retains delete tombstones (see
        class docstring) — strip them so consumers see only live rows."""
        if df is None:
            return None
        return df.filter(F.col("op") != "d")

    def current(self) -> DataFrame | None:
        m = self._manifest()
        if m is None:
            return None
        return self._live(self._read_buckets(m["buckets"], m["schema"]))

    def versions(self) -> list[int]:
        """All retained state versions, oldest first — each manifest is
        an immutable full-state snapshot (bucket → version map) after
        its micro-batch."""
        return self.log.versions()

    def at_version(self, version: int) -> DataFrame | None:
        """Time travel: state as of committed ``version``."""
        m = self._manifest(version)
        if m is None:
            raise FileNotFoundError(f"no manifest for version {version}")
        return self._live(self._read_buckets(m["buckets"], m["schema"]))

    def vacuum(self, retain_last: int = 10) -> dict:
        """Drop history older than the newest ``retain_last`` manifests
        — Delta's ``VACUUM`` for the manifest log. Without it a
        long-running stream's version history grows one ``v{N}/``
        dir per micro-batch forever even though live state is bounded
        (the soak harness's disk-leak axis).

        Safety: a ``v{N}/`` dir is deleted only if NO retained manifest
        maps any bucket to it — retained manifests (including LATEST)
        stay fully readable for time travel. Deletion order is
        manifests-first, then unreferenced data dirs, so a crash
        mid-vacuum can only strand unreferenced dirs (re-vacuumed next
        call), never break a reader."""
        vers = self.versions()
        if len(vers) <= retain_last:
            return {"dropped_manifests": 0, "dropped_dirs": 0}
        keep = set(vers[-retain_last:])
        referenced: set[int] = set()
        for v in keep:
            m = self._manifest(v)
            if m:
                referenced.update(int(x) for x in m["buckets"].values())
        dropped_m = 0
        for v in vers:
            if v not in keep:
                self.log.drop(v)
                dropped_m += 1
        dropped_d = 0
        for d in os.listdir(self.root):
            if d.startswith("v") and d[1:].isdigit():
                ver = int(d[1:])
                if ver not in referenced and ver not in keep:
                    shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
                    dropped_d += 1
        return {"dropped_manifests": dropped_m, "dropped_dirs": dropped_d}

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        # the batch feeds several actions (probe, DLQ write, merge
        # write) — persist it so the envelope JSON parse runs once per
        # micro-batch, not once per action. A frame the caller already
        # cached keeps its cache: only a cache made here is released.
        owned = batch.storageLevel == StorageLevel.NONE
        if owned:
            batch.persist()
        try:
            self._apply_batch(batch, batch_id)
        finally:
            if owned:
                batch.unpersist()

    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        bad_cond = F.col(self.key_cols[0]).isNull() | F.col("lsn").isNull()
        good = ~bad_cond
        has_raw = "raw_value" in batch.columns

        # ONE probe job per micro-batch: touched buckets, the lsn
        # high-water mark and the row / dead-letter counts are observed
        # metrics of a noop write, which also materializes the persisted
        # batch for the actions below. The bucket set is bounded by
        # n_buckets; bad rows contribute only to the dead-letter count.
        prev = self._manifest()
        version = 0 if prev is None else prev["version"] + 1
        n_buckets = (
            prev["n_buckets"]
            if prev
            else self.n_buckets or self.spark.sparkContext.defaultParallelism
        )
        bucket_versions: dict[str, int] = dict(prev["buckets"]) if prev else {}
        max_lsn: int | None = prev.get("max_lsn") if prev else None
        schema: dict | None = prev["schema"] if prev else None
        self.log.clear(version)

        probe = Observation()
        batch.observe(
            probe,
            F.collect_set(F.when(good, self._bucket_col(n_buckets))).alias("buckets"),
            F.max(F.when(good, F.col("lsn"))).alias("max_lsn"),
            F.count_if(bad_cond).alias("dead_letters"),
            F.count(F.lit(1)).alias("rows_in"),
        ).write.format("noop").mode("overwrite").save()
        stats = probe.get
        touched = {int(b) for b in stats["buckets"]}
        if stats["max_lsn"] is not None and (
            max_lsn is None or stats["max_lsn"] > max_lsn
        ):
            max_lsn = int(stats["max_lsn"])

        join_dead_letters = None
        if has_raw:
            if stats["dead_letters"]:
                # the write needs nothing from the merge, so it runs
                # beside it and is joined before the commit: a failed
                # write commits nothing, and what it wrote is visible
                # only once the version commits
                dead = batch.filter(bad_cond).select(
                    F.lit(batch_id).alias("batch_id"), "raw_value"
                )
                out = self.log.dir("dead_letter", version)
                join_dead_letters = _beside(
                    lambda: dead.write.mode("overwrite").parquet(out)
                )
            batch = batch.filter(good).drop("raw_value")
        else:
            batch = batch.filter(good)

        try:
            if touched:
                schema = self._merge(
                    batch, bucket_versions, schema, touched, n_buckets, max_lsn, version
                )
                for b in touched:
                    bucket_versions[str(b)] = version
        finally:
            if join_dead_letters is not None:
                join_dead_letters()

        self.log.commit({
            "version": version,
            "buckets": bucket_versions,
            "n_buckets": n_buckets,
            "max_lsn": max_lsn,
            "schema": schema,
            "metrics": {
                "rows_in": stats["rows_in"],
                "dead_letters": stats["dead_letters"],
                "buckets_touched": len(touched),
            },
        })

    def _merge(
        self,
        batch: DataFrame,
        bucket_versions: dict[str, int],
        schema: dict | None,
        touched: set[int],
        n_buckets: int,
        max_lsn: int | None,
        version: int,
    ) -> dict:
        """Merge the good rows of ``batch`` into the ``touched`` buckets
        and write them under ``v{version}/``; returns the stored schema."""
        cur = self._read_buckets(bucket_versions, schema, only=touched)
        # the on_merge consumers (change feed, agg view) re-read the
        # pre-merge rows — persist cur so state parquet is scanned
        # once per micro-batch, not once per consumer
        if self.on_merge is not None and cur is not None:
            cur = cur.persist()
        # ONE exchange per merge: union the current buckets with the
        # raw batch, cluster by __bucket (a pure function of the key,
        # so bucket-clustering IS key-clustering), and arbitrate with
        # cdc/apply.py's latest_state window partitioned by (__bucket,
        # key), keeping tombstones. The window reuses the bucket
        # exchange and its sort starts with __bucket, so the
        # bucket-partitioned write adds neither a repartition nor a
        # sort and still writes one file per bucket. The exchange has
        # at most one partition per core: more would only queue tasks
        # (several of them empty, from hash collisions) behind the
        # cores.
        base = (
            batch
            if cur is None
            else cur.unionByName(batch, allowMissingColumns=True)
        )
        n_parts = min(len(touched), self.spark.sparkContext.defaultParallelism)
        merged = latest_state(
            base.withColumn("__bucket", self._bucket_col(n_buckets)).repartition(
                n_parts, F.col("__bucket")
            ),
            ["__bucket", *self.key_cols],
            keep_deletes=True,
        )
        if self.tombstone_gc_lsn_lag is not None and max_lsn is not None:
            horizon = max_lsn - self.tombstone_gc_lsn_lag
            merged = merged.filter(
                (F.col("op") != "d") | (F.col("lsn") >= F.lit(horizon))
            )
        # the stored schema, widened by the union above when the
        # batch carries new columns (DDL evolution)
        schema = merged.drop("__bucket").schema.jsonValue()
        if self.on_merge is not None:
            merged = merged.persist()
        try:
            # overwrite: a v{version}/ already there was stranded by
            # a crash before its commit — no manifest references it
            out = os.path.join(self.root, f"v{version}")
            merged.write.mode("overwrite").partitionBy("__bucket").parquet(out)
            if self.on_merge is not None:
                self.on_merge(cur, merged.drop("__bucket"), version)
        finally:
            if self.on_merge is not None:
                merged.unpersist()
                if cur is not None:
                    cur.unpersist()
        return schema


def _beside(fn: Callable[[], None]) -> Callable[[], None]:
    """Start ``fn`` in a thread that inherits the caller's Spark local
    properties (job group, the streaming query's properties), so its
    jobs are attributed to the caller; return a join that waits for it
    and re-raises its error."""
    errors: list[BaseException] = []

    def run() -> None:
        try:
            fn()
        except BaseException as e:
            errors.append(e)

    t = InheritableThread(run)
    t.start()

    def join() -> None:
        t.join()
        if errors:
            raise errors[0]

    return join


def start_cdc_pipeline(
    spark: SparkSession,
    input_dir: str,
    state_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
    trigger_seconds: int = 30,
    max_files_per_trigger: int | None = None,
    sink=None,
    source: DataFrame | None = None,
    after_schema=None,
) -> StreamingQuery:
    """Wire the full pipeline. The reference seals batches by BOTH time
    and size (``adx-sink-config.json:5-6``: flush.size.bytes 10000 /
    flush.interval.ms 30 s): ``trigger_seconds`` mirrors the time bound,
    ``max_files_per_trigger`` the size bound (in files, for the default
    text source only; honored by availableNow backlog drains too, which
    then process the backlog as several bounded micro-batches rather
    than one big one).
    ``available_now`` drains the backlog and stops (test/replay mode).
    ``sink`` swaps the state store: ``foreachBatch`` calls its
    ``apply_batch(batch, batch_id)``, the one method the pipeline uses;
    default is a :class:`ParquetStateSink` at ``state_root`` (pass one
    built with ``tombstone_gc_lsn_lag`` to bound tombstone retention).

    ``source`` swaps the transport: a raw stream with a ``value``
    column of envelope JSON (string or binary), such as
    :func:`read_kafka_envelopes` or the ``cdc_envelopes`` connector.
    A ``source`` carries its own size bound (``maxOffsetsPerTrigger``
    for Kafka), so passing ``max_files_per_trigger`` with it raises
    ``ValueError`` instead of silently dropping the bound.
    By default ``input_dir`` is read as a text stream, one envelope per
    line (a Kafka topic dump is exactly this shape). Whatever the
    transport, the decode is the same: parse with
    ``envelope_schema(after_schema)`` for DDL-evolved sources, unwrap,
    and carry the raw line so the sink dead-letters malformed records.
    """
    if source is not None and max_files_per_trigger is not None:
        raise ValueError(
            "max_files_per_trigger bounds only the default text source; "
            "bound a source= stream with its own option "
            "(maxOffsetsPerTrigger for Kafka)"
        )
    if sink is None:
        sink = ParquetStateSink(spark, state_root, ["orderid"])
    if source is None:
        reader = spark.readStream.format("text")
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        source = reader.load(input_dir)
    flat = flatten_after(
        unwrap(parse_envelope(source, after_schema=after_schema), keep_raw=True)
    )
    writer = flat.writeStream.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.foreachBatch(sink.apply_batch).start()
