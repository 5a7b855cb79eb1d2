"""Schema inference, caching, and in-band evolution — the Spark
re-expression of the reference's schema cache + TableSchema control
messages.

Reference behavior (/root/reference/ext/schema_cache.c,
client/protocol_client.c:124-167):

* schemas are inferred from catalog metadata, cached per relation, and
  re-inferred when DDL changes them (``equalTupleDescs`` comparison,
  schema_cache.c:137-163);
* on first touch or change, a ``TableSchema`` message carrying the key
  and row schemas as JSON strings is emitted in-band *before* the row
  event that triggered it (protocol_server.c:78-99, 176-205);
* the client keeps a per-relid schema list and re-parses on change
  (protocol_client.c:313-350).

Spark's ``from_json`` takes one fixed schema per query, so mid-stream
drift is handled at micro-batch boundaries: each batch re-resolves the
newest schema per relid from the control events it has seen (control
events are a per-table trickle — collecting them is O(#tables), not
O(#rows)) and decodes with that. Columns added by evolution read as
null for pre-change events, matching the reference's add-column test
matrix (spec/functional/topic_spec.rb:113-274).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bottledwater_pg_spark.plans.envelope import (
    ENVELOPE_SCHEMA,
    OP_TABLE_SCHEMA,
    ROW_JSON_OPTIONS,
)


@dataclass
class SchemaTracker:
    """Per-relid schema version cache (driver-side analog of
    schema_cache.c's hash table)."""

    versions: dict[int, list[str]] = field(default_factory=dict)

    def observe(self, relid: int, schema_json: str) -> bool:
        """Record a schema sighting; True when new or changed (the
        condition under which the reference emits TableSchema,
        schema_cache.c:83-130)."""
        known = self.versions.setdefault(relid, [])
        if not known or known[-1] != schema_json:
            known.append(schema_json)
            return True
        return False

    def current(self, relid: int) -> T.StructType | None:
        known = self.versions.get(relid)
        if not known:
            return None
        return T.StructType.fromJson(__import__("json").loads(known[-1]))


def table_schema_events(
    df: DataFrame, relid: int, topic: str, lsn: int = 0
) -> DataFrame:
    """One in-band TableSchema control event for a table's current
    schema (sent before the first row event, protocol_server.c:78-99)."""
    spark = df.sparkSession
    row = (
        OP_TABLE_SCHEMA,
        relid,
        0,
        lsn,
        None,
        None,
        None,
        df.schema.json(),
        topic,
    )
    # one control row, built on an EXPLICIT single slice: the default
    # createDataFrame path parallelizes even one row across
    # defaultParallelism near-empty partitions and every downstream
    # union stage drags them along. (Not .coalesce(1): a Repartition
    # node on a union branch blocks filter pushdown through the whole
    # union, measured 5x on the schema-evolution queries.)
    return spark.createDataFrame(
        spark.sparkContext.parallelize([row], 1), schema=ENVELOPE_SCHEMA
    )


def resolve_schemas(events: DataFrame, tracker: SchemaTracker | None = None):
    """Fold every TableSchema control event in the stream into the
    tracker, newest-last by lsn. Collects only control events — a
    per-table trickle, never the row stream — and sorts them on the
    driver: one job, not a range sort's sample + shuffle + collect."""
    tracker = tracker or SchemaTracker()
    ctl = sorted(
        events.filter(F.col("op") == OP_TABLE_SCHEMA)
        .select("relid", "lsn", "schema_json")
        .collect(),
        key=lambda r: r["lsn"],
    )
    for r in ctl:
        tracker.observe(r["relid"], r["schema_json"])
    return tracker


def decode_with_evolution(
    events: DataFrame, relid: int, tracker: SchemaTracker
) -> DataFrame:
    """Decode one table's surviving rows with its newest schema.
    Pre-evolution events simply read null for later-added columns
    (from_json is permissive on missing fields) — the reference's
    add-column semantics."""
    schema = tracker.current(relid)
    if schema is None:
        raise LookupError(f"no TableSchema seen for relid {relid}")
    return (
        events.filter((F.col("relid") == relid) & F.col("new_row").isNotNull())
        .select(
            "key",
            "lsn",
            F.from_json("new_row", schema, ROW_JSON_OPTIONS).alias("r"),
        )
    )
