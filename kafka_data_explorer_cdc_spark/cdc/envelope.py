"""Debezium CDC envelope handling — the ingestion heart of the reference.

The reference ships Postgres row changes as Debezium JSON envelopes
(``/root/reference/README.md:265-293``) and flattens them with the
``ExtractNewRecordState`` SMT (``/root/reference/adx-sink-config.json:15-16``)
before sinking to a flat typed ADX table
(``/root/reference/README.md:121-123``). Spark-first equivalents:

- envelope deserialization  → ``from_json`` with a declared StructType
  (the reference's per-record embedded schema becomes a constant)
- ExtractNewRecordState SMT → nested-struct projection ``payload.after.*``
- JSONPath ingestion mapping (``$.orderid`` → ``orderid`` with the
  deliberate int→string coercion, README.md:121-123) → ``select`` + ``cast``

All of this is plain Catalyst-expressible projection: it runs inside
whole-stage codegen, streams through without shuffles, and scales by
Kafka/file partitioning alone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The flat row image of the reference's source table
#: (``orders-generator/main.go:15-20``).
ORDERS_ROW_SCHEMA = T.StructType(
    [
        T.StructField("orderid", T.IntegerType()),
        T.StructField("custid", T.IntegerType()),
        T.StructField("amount", T.IntegerType()),
        T.StructField("city", T.StringType()),
    ]
)

#: Debezium source-block schema (``README.md:272-287``).
SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("version", T.StringType()),
        T.StructField("connector", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("snapshot", T.StringType()),
        T.StructField("db", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("txId", T.LongType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("xmin", T.LongType()),
    ]
)


def envelope_schema(after_schema: T.StructType | None = None) -> T.StructType:
    """The envelope (``README.md:265-293``): before/after row images,
    source metadata, op code and timestamp; ``lsn`` is the total-order
    key. ``after_schema`` (default :data:`ORDERS_ROW_SCHEMA`) is the row
    image.

    Debezium evolves the embedded value schema when the source table's
    DDL changes (new column → new ``after`` field). The pipeline's
    declared-schema parse tolerates unknown fields (they are simply not
    parsed); to CAPTURE them, a restarted pipeline passes the evolved
    row StructType here — the sink's merge widens stored state via
    ``unionByName(allowMissingColumns=True)`` and pre-evolution rows
    read as null for the new columns (bucket reads use the schema
    recorded in the manifest), the same upgrade contract as a warehouse
    ``ADD COLUMN``."""
    row = ORDERS_ROW_SCHEMA if after_schema is None else after_schema
    payload = T.StructType(
        [
            T.StructField("before", row),
            T.StructField("after", row),
            T.StructField("source", SOURCE_SCHEMA),
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("transaction", T.StringType()),
        ]
    )
    return T.StructType([T.StructField("payload", payload)])


#: The envelope with the reference's row image, and its payload.
ENVELOPE_SCHEMA = envelope_schema()
PAYLOAD_SCHEMA = ENVELOPE_SCHEMA["payload"].dataType

#: Narrow probe schema for pre-parse routing/filter decisions (source
#: table, key parity/ranges): parsing ONLY the fields a predicate needs
#: is far cheaper than the full envelope parse, and filtering raw lines
#: before ``parse_envelope`` keeps Catalyst from inlining the full
#: ``from_json`` into pushed-down predicates (one parse per predicate).
PROBE_SCHEMA = T.StructType(
    [
        T.StructField(
            "payload",
            T.StructType(
                [
                    T.StructField(
                        "after",
                        T.StructType([T.StructField("orderid", T.IntegerType())]),
                    ),
                    T.StructField(
                        "source",
                        T.StructType([T.StructField("table", T.StringType())]),
                    ),
                ]
            ),
        )
    ]
)


def parse_envelope(
    raw: DataFrame,
    value_col: str = "value",
    after_schema: T.StructType | None = None,
) -> DataFrame:
    """Deserialize raw JSON envelope bytes/strings → typed nested columns.

    Equivalent of the reference's JsonConverter deserialization
    (``pg-source-config.json:13``); the schema embedded per-record there
    is our compile-time constant. ``after_schema`` overrides the row
    image for DDL-evolved sources (see :func:`envelope_schema`).
    """
    return raw.withColumn(
        "envelope",
        F.from_json(
            F.col(value_col).cast("string"), envelope_schema(after_schema)
        ),
    )


def unwrap(
    parsed: DataFrame, envelope_col: str = "envelope", keep_raw: bool = False
) -> DataFrame:
    """ExtractNewRecordState SMT equivalent: project the after-image flat.

    Keeps CDC metadata (op, lsn) alongside — downstream decides whether
    to drop it (the reference drops it; latest-state apply needs it).
    ``keep_raw=True`` additionally carries the original JSON string as
    ``raw_value`` so malformed records can be dead-lettered losslessly
    (``from_json`` is PERMISSIVE: a corrupt line parses to nulls, it
    does not raise).
    """
    e = F.col(envelope_col)
    cols = [
        e["payload"]["after"].alias("after"),
        e["payload"]["before"].alias("before"),
        e["payload"]["op"].alias("op"),
        e["payload"]["source"]["lsn"].alias("lsn"),
        e["payload"]["source"]["txId"].alias("txid"),
        e["payload"]["source"]["table"].alias("src_table"),
        e["payload"]["ts_ms"].alias("ts_ms"),
    ]
    if keep_raw:
        cols.append(F.col("value").cast("string").alias("raw_value"))
    return parsed.select(*cols)


def flatten_after(flat: DataFrame) -> DataFrame:
    """The flat change row of an :func:`unwrap` output: the key, the
    after-image's value columns, ``op`` and ``lsn`` (and ``raw_value``
    when unwrap kept it) — the row every merge and replay consumes.
    Deletes carry their key in the before-image (README.md:268-288).
    Value columns are derived from the parsed ``after`` struct, so a
    DDL-evolved envelope schema (``envelope_schema(after_schema=...)``)
    flows through without touching this projection."""
    after_fields = [f.name for f in flat.schema["after"].dataType.fields]
    cols = [
        F.coalesce(F.col("after.orderid"), F.col("before.orderid")).alias("orderid")
    ] + [
        F.col(f"after.{c}").alias(c) for c in after_fields if c != "orderid"
    ] + [
        "op",
        "lsn",
    ]
    if "raw_value" in flat.columns:
        cols.append("raw_value")
    return flat.select(*cols)


def sink_projection(after: Column) -> list[Column]:
    """The ADX ingestion mapping (``README.md:123``): JSONPath → column
    with the deliberate int→string coercion on orderid/custid
    (``README.md:121`` declares them ``string``; SURVEY.md §1.3).
    """
    return [
        after["orderid"].cast("string").alias("orderid"),
        after["custid"].cast("string").alias("custid"),
        after["city"].alias("city"),
        after["amount"].cast("int").alias("amount"),
    ]


#: The six cities of the reference generator (``main.go:47``).
CITIES = ["New Delhi", "Seattle", "New York", "Austin", "Chicago", "Cleveland"]

#: Deterministic derivation of an ``orders_info``-shaped table from the
#: driver's ``orders`` table — integer-domain so both engines agree exactly.
#: Mirrors the generator's value shaping (``main.go:81-92``: custid in
#: [1,1000], amount in [100,199], city uniform over CITIES).
ORDERS_INFO_SQL = """
SELECT
  o_orderkey AS orderid,
  (o_custkey % 1000) + 1 AS custid,
  ((o_orderkey * 7 + o_custkey) % 100) + 100 AS amount,
  CASE (o_orderkey % 6)
    WHEN 0 THEN 'New Delhi'
    WHEN 1 THEN 'Seattle'
    WHEN 2 THEN 'New York'
    WHEN 3 THEN 'Austin'
    WHEN 4 THEN 'Chicago'
    ELSE 'Cleveland'
  END AS city
FROM orders
"""


def city_of(n: Column) -> Column:
    """``CITIES[n % 6]`` as the CASE chain the SQL twins spell."""
    idx = n % 6
    expr = F.when(idx == 0, CITIES[0])
    for i, name in enumerate(CITIES[1:-1], start=1):
        expr = expr.when(idx == i, name)
    return expr.otherwise(CITIES[-1])


def orders_info(orders: DataFrame) -> DataFrame:
    """Spark twin of :data:`ORDERS_INFO_SQL` (kept expression-identical)."""
    return orders.select(
        F.col("o_orderkey").alias("orderid"),
        ((F.col("o_custkey") % 1000) + 1).alias("custid"),
        (((F.col("o_orderkey") * 7 + F.col("o_custkey")) % 100) + 100).alias("amount"),
        city_of(F.col("o_orderkey")).alias("city"),
    )


def to_change_envelopes(info: DataFrame, op: str, lsn_step: int = 0) -> DataFrame:
    """Serialize an orders_info-shaped DataFrame into Debezium
    envelopes of op kind ``op`` ('c', 'u' or 'd'), as JSON strings in
    ``value`` with the string key in ``key`` — a deterministic stand-in
    for the reference's Kafka topic payloads (shape:
    ``README.md:265-293``). ``lsn_step`` offsets the per-key lsn so a
    synthesized multi-op log has a well-defined total order per key
    (insert step 0 < update step 1 < delete step 2, etc.).

    Delete envelopes follow the reference's wire shape
    (``README.md:268-288``): ``after`` is null and the key rides in the
    ``before`` image (default REPLICA IDENTITY — key-only before)."""
    row = F.struct(
        F.col("orderid").cast("int").alias("orderid"),
        F.col("custid").cast("int").alias("custid"),
        F.col("amount").cast("int").alias("amount"),
        F.col("city").alias("city"),
    )
    key_only = F.struct(
        F.col("orderid").cast("int").alias("orderid"),
        F.lit(None).cast("int").alias("custid"),
        F.lit(None).cast("int").alias("amount"),
        F.lit(None).cast("string").alias("city"),
    )
    before = key_only if op == "d" else F.lit(None).cast(ORDERS_ROW_SCHEMA)
    after = F.lit(None).cast(ORDERS_ROW_SCHEMA) if op == "d" else row
    source = F.struct(
        F.lit("1.2.0.Final").alias("version"),
        F.lit("postgresql").alias("connector"),
        F.lit("myserver").alias("name"),
        (F.lit(1602057392691) + F.col("orderid")).alias("ts_ms"),
        F.lit("false").alias("snapshot"),
        F.lit("postgres").alias("db"),
        F.lit("inventory").alias("schema"),
        F.lit("orders_info").alias("table"),
        (F.lit(653) + F.col("orderid")).alias("txId"),
        (F.lit(34220200) + F.col("orderid") * 10 + F.lit(lsn_step)).alias("lsn"),
        F.lit(None).cast("long").alias("xmin"),
    )
    payload = F.struct(
        before.alias("before"),
        after.alias("after"),
        source.alias("source"),
        F.lit(op).alias("op"),
        (F.lit(1602057392692) + F.col("orderid")).alias("ts_ms"),
        F.lit(None).cast("string").alias("transaction"),
    )
    return info.select(
        F.col("orderid").cast("string").alias("key"),
        F.to_json(F.struct(payload.alias("payload"))).alias("value"),
    )
