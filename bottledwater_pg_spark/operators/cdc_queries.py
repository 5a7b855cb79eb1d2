"""CDC-plane queries exposed through the driver contract: generate a
deterministic CDC stream from a fixture table, materialize it, and
compare against the closed-form oracle SQL over the base table.

These exercise, end-to-end: snapshot phase (S1/S3), change-stream
generation (S4), key extraction (P2), update->delete+insert rewrite
(P5), tombstone compaction (K1 + log-compaction semantics), unkeyed
policy (X2), topic routing (R1), and transaction markers (T1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bottledwater_pg_spark.operators.materialize import (
    append_only,
    compact,
    drop_tombstones,
    materialize,
)
from bottledwater_pg_spark.session import load_table
from bottledwater_pg_spark.sources.generator import (
    MutationSpec,
    generate_cdc,
    oracle_final_state_sql,
)

CUSTOMER_SPEC = MutationSpec(update_exprs={"c_acctbal": "c_acctbal + 100.0"})
EVENTS_SPEC = MutationSpec(update_exprs={"value": "value + 1.0"})
ORDERS_SPEC = MutationSpec(update_exprs={"o_orderstatus": "'X'"})

CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
EVENTS_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
ORDERS_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def customer_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return generate_cdc(
        cust,
        ["c_custkey"],
        F.col("c_custkey"),
        relid=16385,
        table="customer",
        spec=CUSTOMER_SPEC,
        include_txn_markers=True,
    )


def cdc_materialize_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return materialize(customer_cdc(spark, sf_dir), cust.schema)


CDC_CUSTOMER_SQL = oracle_final_state_sql(
    "customer", ["c_custkey"], "c_custkey", CUSTOMER_COLS, CUSTOMER_SPEC
)


def cdc_materialize_events_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key table: (user_id, event_id) — exercises multi-column
    key structs and PK-change on the first key column."""
    ev = load_table(spark, sf_dir, "events")
    # single-action query over the biggest fixture table: repartition
    # the base UNDER the explode so the envelope encode parallelizes
    # (the single-pass generator otherwise runs it on the scan's one
    # split — guide §2.5; no-op on multi-split inputs)
    from bottledwater_pg_spark.session import parallel_scan

    stream = generate_cdc(
        parallel_scan(ev), ["user_id", "event_id"], F.col("event_id"),
        16386, "events", EVENTS_SPEC,
    )
    return materialize(stream, ev.schema)


CDC_EVENTS_SQL = oracle_final_state_sql(
    "events", ["user_id", "event_id"], "event_id", EVENTS_COLS, EVENTS_SPEC
)


def cdc_append_unkeyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unkeyed-table policy (X2): null keys, deletes never emitted,
    materialization is append-only."""
    ev = load_table(spark, sf_dir, "events")
    stream = generate_cdc(ev, [], F.col("event_id"), 16387, "events", EVENTS_SPEC)
    return append_only(stream, ev.schema)


CDC_UNKEYED_SQL = """
SELECT * FROM events
UNION ALL
SELECT event_id, ts, user_id, event_type, value + 1.0 AS value, props
FROM events WHERE event_id % 5 = 0
"""


def cdc_topic_routing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic routing (R1): events from three tables interleave into one
    stream; count DML events per (topic, op)."""
    from bottledwater_pg_spark.session import parallel_scan as _pscan

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    stream = (
        generate_cdc(_pscan(cust), ["c_custkey"], F.col("c_custkey"), 16385,
                     "customer", CUSTOMER_SPEC)
        .unionByName(
            generate_cdc(_pscan(orders), ["o_orderkey"], F.col("o_orderkey"),
                         16388, "orders", ORDERS_SPEC)
        )
        .unionByName(
            generate_cdc(
                _pscan(ev), [], F.col("event_id"), 16387, "events",
                EVENTS_SPEC,
            )
        )
    )
    return (
        stream.filter(F.col("op").isin("insert", "update", "delete"))
        .groupBy("topic", "op")
        .agg(F.count("*").alias("n_events"))
    )


# Closed-form event counts per topic/op (keyed tables with default mods:
# inserts = rows + moved; updates = rows%5; deletes = moved + (rows%7
# not already moved — a moved key's original row is gone by xid 3);
# unkeyed: inserts = rows, updates = rows%5, no deletes).
CDC_ROUTING_SQL = """
WITH keyed AS (
  SELECT 'customer' AS topic, c_custkey AS k FROM customer
  UNION ALL
  SELECT 'orders' AS topic, o_orderkey AS k FROM orders
)
SELECT topic, 'insert' AS op,
       COUNT(*) + COUNT(*) FILTER (WHERE k % 11 = 0) AS n_events
FROM keyed GROUP BY topic
UNION ALL
SELECT topic, 'update' AS op, COUNT(*) FILTER (WHERE k % 5 = 0) AS n_events
FROM keyed GROUP BY topic
UNION ALL
SELECT topic, 'delete' AS op,
       COUNT(*) FILTER (WHERE k % 11 = 0)
         + COUNT(*) FILTER (WHERE k % 7 = 0 AND k % 11 <> 0)
         AS n_events
FROM keyed GROUP BY topic
UNION ALL
SELECT 'events' AS topic, 'insert' AS op, COUNT(*) AS n_events FROM events
UNION ALL
SELECT 'events' AS topic, 'update' AS op,
       COUNT(*) FILTER (WHERE event_id % 5 = 0) AS n_events FROM events
"""


def cdc_error_policy_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error policy X1 under ``log``: oversized rows are skipped, the
    stream keeps flowing (error_handling_spec.rb:117-129 — 'Wednesday'
    and 'Friday' arrive, the 2 MB row between them is dropped). Here
    the guard is a 2000-byte payload cap over the documents table
    (docs span 48-553 chars * the JSON envelope overhead, so a few
    hundred breach a 2000-char-payload cap once doubled); the oracle is
    the final-state SQL restricted to rows that fit."""
    from bottledwater_pg_spark.errors import ErrorPolicy, apply_error_policy

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), F.col("text")).alias("text")
    )
    spec = MutationSpec(update_exprs={"text": "text"})
    stream = generate_cdc(docs, ["doc_id"], F.col("doc_id"), 16389, "documents", spec)
    good, _bad = apply_error_policy(stream, ErrorPolicy.LOG, max_bytes=2000)
    return materialize(good, docs.schema)


# JSON payload = {"doc_id":N,"text":"..."} -> byte length is
# len(text) + len(digits(doc_id)) + 21 (documents are pure ASCII so
# chars == bytes). A moved row's payload carries the SHIFTED id, whose
# extra digits can push it over the cap — the guard applies to the
# payload of the event that would create the surviving key.
CDC_ERRLOG_SQL = """
WITH doubled AS (
  SELECT doc_id, text || text AS text FROM documents
), final AS (
  SELECT CASE WHEN doc_id % 11 = 0 THEN doc_id + 1000000 ELSE doc_id END
           AS doc_id,
         text
  FROM doubled
  WHERE doc_id % 7 <> 0 OR doc_id % 11 = 0
)
SELECT doc_id, text FROM final
WHERE length(text) + length(CAST(doc_id AS VARCHAR)) + 21 <= 2000
"""


def cdc_kafka_sink_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 message-frame semantics, oracle-checkable: (topic, key,
    tombstone flag, lsn) for every customer CDC message. The value
    payload itself is summarized as its null-ness — JSON double
    rendering differs between engines, but the tombstone rule (delete
    -> null value, same key) is exactly the reference's contract."""
    from bottledwater_pg_spark.sink import kafka_sink_frame

    frame = kafka_sink_frame(customer_cdc(spark, sf_dir))
    return frame.select(
        "topic",
        "key",
        F.col("value").isNull().alias("is_tombstone"),
        "lsn",
    )


# message inventory per key k: insert@k*10 (never tombstone); update
# @k*10+1 for k%5=0; pk-change k%11=0 -> tombstone old key + insert new
# key @k*10+2; delete k%7=0 (unless moved — row already gone) -> tombstone @k*10+3
CDC_SINK_SQL = """
WITH k AS (SELECT c_custkey AS k FROM customer)
SELECT 'customer' AS topic,
       '{"c_custkey":' || k || '}' AS key,
       FALSE AS is_tombstone, k * 10 AS lsn
FROM k
UNION ALL
SELECT 'customer', '{"c_custkey":' || k || '}', FALSE, k * 10 + 1
FROM k WHERE k % 5 = 0
UNION ALL
SELECT 'customer', '{"c_custkey":' || k || '}', TRUE, k * 10 + 2
FROM k WHERE k % 11 = 0
UNION ALL
SELECT 'customer', '{"c_custkey":' || (k + 1000000) || '}', FALSE, k * 10 + 2
FROM k WHERE k % 11 = 0
UNION ALL
SELECT 'customer', '{"c_custkey":' || k || '}', TRUE, k * 10 + 3
FROM k WHERE k % 7 = 0 AND k % 11 <> 0
"""


def cdc_history_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 version history of the customer CDC stream: every non-delete
    event opens a version; the key's next event closes it. The payload
    column is summarized by null-ness (JSON double rendering differs
    between engines); the version timeline itself is the contract."""
    from bottledwater_pg_spark.operators.materialize import scd2_history

    hist = scd2_history(customer_cdc(spark, sf_dir))
    return hist.select(
        "key",
        "op",
        "valid_from_lsn",
        "valid_to_lsn",
        "is_current",
        F.col("new_row").isNotNull().alias("has_payload"),
    )


# closed-form event inventory per key k (same as CDC_SINK_SQL), with
# version ranges = lead(lsn) over the per-key event sequence
CDC_SCD2_SQL = """
WITH k AS (SELECT c_custkey AS k FROM customer),
ev AS (
  SELECT '{"c_custkey":' || k || '}' AS key, 'insert' AS op, k * 10 AS lsn
  FROM k
  UNION ALL
  SELECT '{"c_custkey":' || k || '}', 'update', k * 10 + 1 FROM k WHERE k % 5 = 0
  UNION ALL
  SELECT '{"c_custkey":' || k || '}', 'delete', k * 10 + 2 FROM k WHERE k % 11 = 0
  UNION ALL
  SELECT '{"c_custkey":' || (k + 1000000) || '}', 'insert', k * 10 + 2
  FROM k WHERE k % 11 = 0
  UNION ALL
  SELECT '{"c_custkey":' || k || '}', 'delete', k * 10 + 3
  FROM k WHERE k % 7 = 0 AND k % 11 <> 0
), ranged AS (
  SELECT key, op, lsn AS valid_from_lsn,
         lead(lsn) OVER (PARTITION BY key ORDER BY lsn) AS valid_to_lsn
  FROM ev
)
SELECT key, op, valid_from_lsn, valid_to_lsn,
       valid_to_lsn IS NULL AS is_current,
       TRUE AS has_payload
FROM ranged WHERE op <> 'delete'
"""


def cdc_scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SCD2 history: the set of row versions live
    at a historical LSN (here half-way through the stream, derived from
    the data so both engines compute the same point). Version ranges
    make as-of reads a filter — no replay, no per-key scan-back; at
    warehouse scale this is the partition-prunable 'state as of' query
    the reference's consumers would run against compacted history."""
    from pyspark.sql import functions as F

    from bottledwater_pg_spark.operators.materialize import scd2_history

    cust = load_table(spark, sf_dir, "customer")
    hist = scd2_history(customer_cdc(spark, sf_dir))
    asof = cust.agg((F.max("c_custkey") * 5).alias("l"))
    return (
        hist.crossJoin(F.broadcast(asof))
        .filter(
            (F.col("op") != "delete")
            & (F.col("valid_from_lsn") <= F.col("l"))
            & (F.col("valid_to_lsn").isNull() | (F.col("valid_to_lsn") > F.col("l")))
        )
        .select("key", "op", "valid_from_lsn", "valid_to_lsn")
    )


CDC_SCD2_ASOF_SQL = """
WITH k AS (SELECT c_custkey AS k FROM customer),
ev AS (
  SELECT '{"c_custkey":' || k || '}' AS key, 'insert' AS op, k * 10 AS lsn
  FROM k
  UNION ALL
  SELECT '{"c_custkey":' || k || '}', 'update', k * 10 + 1 FROM k WHERE k % 5 = 0
  UNION ALL
  SELECT '{"c_custkey":' || k || '}', 'delete', k * 10 + 2 FROM k WHERE k % 11 = 0
  UNION ALL
  SELECT '{"c_custkey":' || (k + 1000000) || '}', 'insert', k * 10 + 2
  FROM k WHERE k % 11 = 0
  UNION ALL
  SELECT '{"c_custkey":' || k || '}', 'delete', k * 10 + 3
  FROM k WHERE k % 7 = 0 AND k % 11 <> 0
), ranged AS (
  SELECT key, op, lsn AS valid_from_lsn,
         lead(lsn) OVER (PARTITION BY key ORDER BY lsn) AS valid_to_lsn
  FROM ev
), pt AS (SELECT MAX(c_custkey) * 5 AS l FROM customer)
SELECT key, op, valid_from_lsn, valid_to_lsn
FROM ranged, pt
WHERE op <> 'delete' AND valid_from_lsn <= l
  AND (valid_to_lsn IS NULL OR valid_to_lsn > l)
"""


def cdc_snapshot_diff_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/diff.py): old = the base customer
    snapshot, new = the materialized post-CDC state; the diff must
    recover exactly the NET changes the stream applied (updates on
    surviving keys, deletes of removed/moved-away keys, inserts of
    moved-to keys). Payload presence is summarized as booleans — the
    op classification and key set are the contract."""
    from bottledwater_pg_spark.operators.diff import snapshot_diff

    cust = load_table(spark, sf_dir, "customer")
    new_state = cdc_materialize_customer(spark, sf_dir)
    d = snapshot_diff(cust, new_state, ["c_custkey"])
    return d.select(
        "key",
        "op",
        F.col("old_row").isNotNull().alias("has_old"),
        F.col("new_row").isNotNull().alias("has_new"),
    )


# closed form of the net change set under the default MutationSpec
CDC_DIFF_SQL = """
WITH k AS (SELECT c_custkey AS k FROM customer)
SELECT '{"c_custkey":' || k || '}' AS key, 'update' AS op,
       TRUE AS has_old, TRUE AS has_new
FROM k WHERE k % 5 = 0 AND k % 7 <> 0 AND k % 11 <> 0
UNION ALL
SELECT '{"c_custkey":' || k || '}', 'delete', TRUE, FALSE
FROM k WHERE k % 7 = 0 OR k % 11 = 0
UNION ALL
SELECT '{"c_custkey":' || (k + 1000000) || '}', 'insert', FALSE, TRUE
FROM k WHERE k % 11 = 0
"""


def cdc_merge_sink_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert sink (Delta-style copy-on-write over bucketed
    parquet): apply the customer CDC stream in three lsn-ordered
    micro-batches through :class:`BucketedMergeSink`, then read the
    typed state back. Must equal the one-shot materialization oracle —
    proving the incremental bucket-local merge converges to the same
    state as a global compaction."""
    import tempfile

    from pyspark.sql import functions as F

    from bottledwater_pg_spark.operators.merge_sink import BucketedMergeSink

    cust = load_table(spark, sf_dir, "customer")
    events = customer_cdc(spark, sf_dir).cache()
    lo, hi = events.agg(F.min("lsn"), F.max("lsn")).first()
    step = (hi - lo) // 3 + 1
    sink = BucketedMergeSink(spark, tempfile.mkdtemp(prefix="mergesink_"), 16)
    for i in range(3):
        sink.merge_batch(
            events.filter(
                (F.col("lsn") >= lo + i * step) & (F.col("lsn") < lo + (i + 1) * step)
            )
        )
    events.unpersist()
    return sink.current_rows(cust.schema)


def cdc_incremental_agg_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/ivm.py): per-segment
    COUNT + SUM(acctbal) folded from signed CDC deltas — never
    materializing row state. Must equal aggregating the oracle's final
    state, which proves the generator's old images telescope exactly."""
    from bottledwater_pg_spark.operators.ivm import incremental_group_agg

    cust = load_table(spark, sf_dir, "customer")
    return incremental_group_agg(
        customer_cdc(spark, sf_dir), cust.schema, "c_mktsegment", "c_acctbal"
    )


CDC_IVM_SQL = f"""
WITH final AS ({CDC_CUSTOMER_SQL})
SELECT c_mktsegment, COUNT(*) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM final
GROUP BY c_mktsegment
"""


def cdc_incremental_agg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM for the NON-INVERTIBLE aggregates: per-segment COUNT + SUM
    + exact MIN/MAX(acctbal) folded from signed CDC deltas via
    per-(group, value) support counts (operators/ivm.py
    delta_value_support). SUM/COUNT telescope from deltas directly,
    but a deleted maximum cannot be subtracted — the support state
    knows the runner-up, so MIN/MAX stay exact under the fixture's
    deletes/updates (which move and remove segment extrema). Must
    equal MIN/MAX over the materialized final state."""
    from bottledwater_pg_spark.operators.ivm import incremental_group_agg

    cust = load_table(spark, sf_dir, "customer")
    return incremental_group_agg(
        customer_cdc(spark, sf_dir), cust.schema, "c_mktsegment",
        "c_acctbal", minmax=True,
    )


CDC_IVM_MINMAX_SQL = f"""
WITH final AS ({CDC_CUSTOMER_SQL})
SELECT c_mktsegment, COUNT(*) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(MIN(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS min_val,
       CAST(MAX(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_val
FROM final
GROUP BY c_mktsegment
"""


#: bucket width of the histogram IVM query — acctbal spans ~[-1000,
#: 10000], so ~22 occupied buckets per segment stand in for what
#: would be thousands of distinct values
IVM_HIST_WIDTH = 500


def cdc_incremental_agg_minmax_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVM for non-invertible aggregates over a CONTINUOUS value
    domain: the per-(group, value) support table of
    ``cdc_incremental_agg_minmax`` is O(distinct values per group) —
    unbounded for continuous domains — so this query maintains the
    QUANTIZED histogram instead (operators/ivm.py
    ``delta_value_support(quantize=w)``): per-(group, bucket) signed
    live-row counts plus signed value sums, O(occupied buckets).
    COUNT and SUM remain exact (bucket sums telescope under any
    insert/update/delete history); MIN/MAX come back as bucket-edge
    BOUNDS exact to the declared width — ``min_bound =
    floor(true_min/w)*w`` and ``max_bound = (floor(true_max/w)+1)*w``
    — a deterministic function of the materialized final state, which
    is exactly what the oracle computes."""
    from bottledwater_pg_spark.operators.ivm import incremental_group_agg

    cust = load_table(spark, sf_dir, "customer")
    return incremental_group_agg(
        customer_cdc(spark, sf_dir), cust.schema, "c_mktsegment",
        "c_acctbal", minmax=True, quantize=IVM_HIST_WIDTH,
    )


CDC_IVM_MINMAX_HIST_SQL = f"""
WITH final AS ({CDC_CUSTOMER_SQL})
SELECT c_mktsegment, COUNT(*) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(FLOOR(CAST(MIN(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                  / {IVM_HIST_WIDTH}) * {IVM_HIST_WIDTH} AS DOUBLE)
         AS min_bound,
       CAST((FLOOR(CAST(MAX(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   / {IVM_HIST_WIDTH}) + 1) * {IVM_HIST_WIDTH} AS DOUBLE)
         AS max_bound
FROM final
GROUP BY c_mktsegment
"""


def cdc_stream_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-table join after routing — THE consumer scenario the
    reference's key-hash partitioning exists to serve (README.md:384-398
    and the partitioner comment, kafka/bottledwater.c:800-807: "a
    consumer relying on seeing all updates relating to a given key,
    e.g. for a stream-table join").

    One interleaved envelope stream carries BOTH customer and orders
    changes; routing splits it by relid (R1), each side materializes
    latest-state-by-key independently, and the two states join on
    custkey — open orders priced per market segment. The oracle
    computes both final states from the mutation contract and joins
    them in SQL, so a defect anywhere (routing, either compaction,
    tombstone handling, the join) mismatches.

    Scale: the relid filters prune each branch to its table's events
    before any shuffle; each compaction is the single-shuffle max_by
    plan; the join shuffles on custkey (or broadcasts the customer
    state when it fits — AQE's call at runtime).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # r14: each side materializes from ITS OWN topic's stream — the
    # production consumer shape (the reference routes tables to
    # separate topics; a consumer subscribes per topic, it does not
    # filter an interleaved firehose). The former union + relid filter
    # was plan-equivalent only while Catalyst could constant-fold the
    # other table's branches away; the single-pass explode generator
    # defeats that pruning, so the filter form computed BOTH tables'
    # full generation per side. Routing-by-relid stays certified by
    # cdc_topic_routing_counts / cdc_replicate_all_counts.
    # r15: single-action query whose per-side envelope encode sits
    # between a single-row-group scan and the compaction exchange —
    # the §2.5 under-split opt-in spreads it (no-op on multi-split
    # inputs; the multi-action CDC consumers stay opted out, r14 A/B)
    from bottledwater_pg_spark.session import parallel_scan as _pscan

    cust_state = materialize(
        generate_cdc(
            _pscan(cust), ["c_custkey"], F.col("c_custkey"), 16385,
            "customer", CUSTOMER_SPEC,
        ),
        cust.schema,
    )
    ord_state = materialize(
        generate_cdc(
            _pscan(orders), ["o_orderkey"], F.col("o_orderkey"), 16388,
            "orders", ORDERS_SPEC,
        ),
        orders.schema,
    )
    return (
        ord_state.filter(F.col("o_orderstatus") == "O")
        .join(cust_state, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_open_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("open_total"),
        )
    )


CDC_ORDERS_SQL = oracle_final_state_sql(
    "orders", ["o_orderkey"], "o_orderkey", ORDERS_COLS, ORDERS_SPEC
)

CDC_STREAM_TABLE_JOIN_SQL = f"""
WITH cust_final AS ({CDC_CUSTOMER_SQL}),
ord_final AS ({CDC_ORDERS_SQL})
SELECT c_mktsegment, COUNT(*) AS n_open_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS open_total
FROM ord_final JOIN cust_final ON o_custkey = c_custkey
WHERE o_orderstatus = 'O'
GROUP BY c_mktsegment
"""


def cdc_schema_evolution_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-stream schema evolution, oracle-checked end-to-end (the
    SURVEY §7.4 hard part as a driver-contract query, not only a
    test): the customer stream starts under schema v1, then a v2
    TableSchema control event adds a ``c_tier`` column and every third
    customer re-arrives with it populated. Materialization re-resolves
    the newest schema from the in-band control events
    (schema_tracker.py — the reference's protocol_client.c:313-350
    re-parse) and decodes ALL surviving rows with it, so pre-evolution
    rows read null for the added column — exactly the reference's
    ALTER TABLE ADD COLUMN matrix (topic_spec.rb:113-274).

    Scale: control events are a per-table trickle (collecting them is
    O(#tables)); the compaction is the standard single-shuffle max_by;
    decode happens once per surviving key.
    """
    from bottledwater_pg_spark.operators.materialize import (
        decode_rows,
        latest_by_key,
    )
    from bottledwater_pg_spark.schema_tracker import (
        resolve_schemas,
        table_schema_events,
    )
    from bottledwater_pg_spark.sources.generator import snapshot_events

    relid = 16391
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    v1_rows = snapshot_events(
        base, ["c_custkey"], F.col("c_custkey"), relid, "customer"
    )
    v2_base = base.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.upper(F.substring("c_mktsegment", 1, 3)).alias("c_tier"),
    )
    # v2 re-sends as updates one lsn later than the key's snapshot event
    v2_rows = (
        snapshot_events(v2_base, ["c_custkey"], F.col("c_custkey"), relid,
                        "customer")
        .withColumn("lsn", F.col("lsn") + 1)
        .withColumn("op", F.lit("update"))
    )
    stream = (
        table_schema_events(base, relid, "customer", lsn=0)
        .unionByName(v1_rows)
        .unionByName(table_schema_events(v2_base, relid, "customer", lsn=1))
        .unionByName(v2_rows)
    )
    tracker = resolve_schemas(stream)
    # single-table stream: compact, then decode every survivor with the
    # newest schema the control events announced (v2 here) —
    # from_json reads pre-evolution payloads with null c_tier
    return decode_rows(latest_by_key(stream), tracker.current(relid)).select(
        "c_custkey", "c_name", "c_mktsegment", "c_tier"
    )


CDC_EVOLUTION_SQL = """
SELECT c_custkey, c_name, c_mktsegment,
       CASE WHEN c_custkey % 3 = 0
            THEN upper(substring(c_mktsegment, 1, 3)) END AS c_tier
FROM customer
"""


def cdc_schema_evolution_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-stream DROP COLUMN, oracle-checked end-to-end — the other
    half of the reference's DDL matrix (spec/functional/
    schema_spec.rb:359-467 drops columns and keeps replicating;
    topic_spec.rb:113-274 re-announces the schema in-band).

    The customer stream starts under schema v1 (with ``c_acctbal``);
    a v2 TableSchema control event drops the column and every fourth
    customer re-arrives under v2 with an upper-cased name.
    Materialization resolves the NEWEST schema from the in-band
    control events and decodes ALL survivors with it: v1 payloads
    still parse (from_json ignores the extra dropped field), so the
    dropped column vanishes for every row — exactly PG's post-DROP
    read behavior — while the v2 updates land.

    Scale: same single-shuffle compaction as every materialization;
    the control-event collect is O(#schema changes).
    """
    from bottledwater_pg_spark.operators.materialize import (
        decode_rows,
        latest_by_key,
    )
    from bottledwater_pg_spark.schema_tracker import (
        resolve_schemas,
        table_schema_events,
    )
    from bottledwater_pg_spark.sources.generator import snapshot_events

    relid = 16392
    v1_base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    v1_rows = snapshot_events(
        v1_base, ["c_custkey"], F.col("c_custkey"), relid, "customer"
    )
    v2_base = v1_base.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey", F.upper("c_name").alias("c_name"), "c_mktsegment"
    )
    v2_rows = (
        snapshot_events(
            v2_base, ["c_custkey"], F.col("c_custkey"), relid, "customer"
        )
        .withColumn("lsn", F.col("lsn") + 1)
        .withColumn("op", F.lit("update"))
    )
    stream = (
        table_schema_events(v1_base, relid, "customer", lsn=0)
        .unionByName(v1_rows)
        .unionByName(table_schema_events(v2_base, relid, "customer", lsn=1))
        .unionByName(v2_rows)
    )
    tracker = resolve_schemas(stream)
    return decode_rows(latest_by_key(stream), tracker.current(relid)).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


CDC_EVOLUTION_DROP_SQL = """
SELECT c_custkey,
       CASE WHEN c_custkey % 4 = 0 THEN upper(c_name) ELSE c_name END AS c_name,
       c_mktsegment
FROM customer
"""


def cdc_schema_evolution_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-stream ALTER COLUMN TYPE widening (int -> bigint),
    completing the DDL matrix beside ADD COLUMN / DROP COLUMN /
    RENAME: PG allows in-place type widening and the reference keeps
    replicating under the re-announced schema (schema_spec.rb's DDL
    loop; topic_spec.rb:113-274 re-announces in-band).

    The customer stream starts under schema v1 where ``c_points`` is
    a 32-bit int; a v2 TableSchema control event widens it to bigint
    and every fifth customer re-arrives with a value only a bigint
    can hold. Decoding ALL survivors with the NEWEST schema is what
    makes widening safe: the v1 int payloads parse losslessly into
    the wider type (the JSON envelope is type-erased on the wire, so
    widening never needs a backfill) while narrow-typed readers would
    overflow — the materialized state is uniformly bigint.

    Scale: identical single-shuffle compaction; the schema re-
    resolution is an O(#schema changes) control trickle.
    """
    from bottledwater_pg_spark.operators.materialize import (
        decode_rows,
        latest_by_key,
    )
    from bottledwater_pg_spark.schema_tracker import (
        resolve_schemas,
        table_schema_events,
    )
    from bottledwater_pg_spark.sources.generator import snapshot_events

    relid = 16395
    v1_base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        (F.col("c_custkey") % 1000).cast("int").alias("c_points"),
    )
    v1_rows = snapshot_events(
        v1_base, ["c_custkey"], F.col("c_custkey"), relid, "customer"
    )
    v2_base = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 5 == 0
    ).select(
        "c_custkey",
        "c_name",
        (F.col("c_custkey") % 1000 + F.lit(5_000_000_000))
        .cast("long")
        .alias("c_points"),
    )
    v2_rows = (
        snapshot_events(
            v2_base, ["c_custkey"], F.col("c_custkey"), relid, "customer"
        )
        .withColumn("lsn", F.col("lsn") + 1)
        .withColumn("op", F.lit("update"))
    )
    stream = (
        table_schema_events(v1_base, relid, "customer", lsn=0)
        .unionByName(v1_rows)
        .unionByName(table_schema_events(v2_base, relid, "customer", lsn=1))
        .unionByName(v2_rows)
    )
    tracker = resolve_schemas(stream)
    return decode_rows(latest_by_key(stream), tracker.current(relid)).select(
        "c_custkey", "c_name", "c_points"
    )


CDC_EVOLUTION_WIDEN_SQL = """
SELECT c_custkey, c_name,
       CASE WHEN c_custkey % 5 = 0
            THEN CAST(c_custkey % 1000 + 5000000000 AS BIGINT)
            ELSE CAST(c_custkey % 1000 AS BIGINT) END AS c_points
FROM customer
"""


def cdc_schema_evolution_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-stream ALTER TABLE RENAME, oracle-checked end-to-end
    (spec/functional/topic_spec.rb "renaming a table" — after the
    rename, events route to the NEW table's topic while the relid —
    PG keeps it across RENAME — still identifies the stream).

    The table starts as ``custmr``; a rename re-announces the schema
    under topic ``customer_renamed`` and every fifth customer then
    receives a balance update routed to the new topic.  The
    materialization keys on relid (so state is continuous across the
    rename) and reports, per surviving key, the topic of its LAST
    event — renamed for the post-rename updates, original otherwise.
    """
    from bottledwater_pg_spark.plans.envelope import ROW_JSON_OPTIONS
    from bottledwater_pg_spark.schema_tracker import table_schema_events
    from bottledwater_pg_spark.sources.generator import snapshot_events

    relid = 16393
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    v1_rows = snapshot_events(
        base, ["c_custkey"], F.col("c_custkey"), relid, "custmr"
    )
    upd_base = base.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
    )
    upd_rows = (
        snapshot_events(
            upd_base, ["c_custkey"], F.col("c_custkey"), relid,
            "customer_renamed",
        )
        .withColumn("lsn", F.col("lsn") + 1)
        .withColumn("op", F.lit("update"))
    )
    stream = (
        table_schema_events(base, relid, "custmr", lsn=0)
        .unionByName(v1_rows)
        .unionByName(table_schema_events(base, relid, "customer_renamed", lsn=1))
        .unionByName(upd_rows)
    )
    survivors = drop_tombstones(compact(stream, extra_cols=("topic",)))
    return survivors.select(
        F.from_json("new_row", base.schema, ROW_JSON_OPTIONS).alias("r"),
        F.col("topic").alias("last_topic"),
    ).select("r.*", "last_topic")


CDC_EVOLUTION_RENAME_SQL = """
SELECT c_custkey, c_name,
       CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END
         AS c_acctbal,
       CASE WHEN c_custkey % 5 = 0 THEN 'customer_renamed' ELSE 'custmr' END
         AS last_topic
FROM customer
"""


def cdc_zero_column_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-column table round trip (spec/functional/schema_spec.rb:
    359-467: a table whose columns are all dropped — or created with
    none — keeps replicating; Avro rejects empty records, so the
    schema carries a dummy null-boolean field, oid2avro.c:153-163).

    One empty-record insert per customer row flows through the in-band
    TableSchema announcement (built from the dummy schema exactly as
    ``schema_for_pg_columns([])`` generates it), the unkeyed
    append-only path (a zero-column table cannot have a PK), and the
    JSON decode — surviving as N rows of a single null ``dummy``
    column.
    """
    from bottledwater_pg_spark.operators.materialize import append_only
    from bottledwater_pg_spark.plans.envelope import ENVELOPE_SCHEMA
    from bottledwater_pg_spark.schema_tracker import SchemaTracker
    from bottledwater_pg_spark.types import schema_for_pg_columns

    relid = 16394
    dummy_schema = schema_for_pg_columns([])
    ctl = spark.createDataFrame(
        [("table_schema", relid, 0, 0, None, None, None, dummy_schema.json(),
          "empty_table")],
        schema=ENVELOPE_SCHEMA,
    )
    base = load_table(spark, sf_dir, "customer").select("c_custkey")
    rows = base.select(
        F.lit("insert").alias("op"),
        F.lit(relid).cast("long").alias("relid"),
        F.lit(0).cast("long").alias("xid"),
        (F.col("c_custkey").cast("long") * 10).alias("lsn"),
        F.lit(None).cast("string").alias("key"),
        F.lit(None).cast("string").alias("old_row"),
        F.lit("{}").alias("new_row"),
        F.lit(None).cast("string").alias("schema_json"),
        F.lit("empty_table").alias("topic"),
    )
    stream = ctl.unionByName(rows)
    tracker = SchemaTracker()
    for r in stream.filter(F.col("op") == "table_schema").collect():
        tracker.observe(r["relid"], r["schema_json"])
    return append_only(stream, tracker.current(relid))


CDC_ZERO_COLUMN_SQL = """
SELECT CAST(NULL AS BOOLEAN) AS dummy FROM customer
"""


def cdc_skip_snapshot_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``--skip-snapshot`` startup mode (S3 config switch;
    spec/functional/snapshot_spec.rb:55-61): the slot starts streaming
    WITHOUT the initial snapshot, so the materialized state contains
    only keys the stream itself touched — updated keys that survive,
    and moved-to keys; delete tombstones for never-snapshotted keys
    compact away to nothing.
    """
    cust = load_table(spark, sf_dir, "customer")
    stream = generate_cdc(
        cust,
        ["c_custkey"],
        F.col("c_custkey"),
        relid=16385,
        table="customer",
        spec=CUSTOMER_SPEC,
        skip_snapshot=True,
    )
    return materialize(stream, cust.schema)


# stream-only survivors: k%5 updated rows unless later deleted/moved
# away; k%11 moved-to keys (with the update applied when also k%5)
CDC_SKIP_SNAPSHOT_SQL = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
       c_mktsegment
FROM customer
WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0 AND c_custkey % 11 <> 0
UNION ALL
SELECT c_custkey + 1000000, c_name, c_nationkey,
       CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END,
       c_mktsegment
FROM customer WHERE c_custkey % 11 = 0
"""


def cdc_export_snapshot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §3.2 one-call export entry (``SELECT bottledwater_export(
    '%', allow_unkeyed := true)``) driven end-to-end: snapshot every
    fixture table into one interleaved envelope stream — per-table
    TableSchema piggybacked before the first row, every row an Insert
    frame with xid=0, keys resolved per the replica-identity registry
    (unkeyed tables captured with null keys) — and report the frame
    inventory per (topic, op). The oracle is the closed-form count:
    one schema frame + row-count insert frames per table.
    """
    from bottledwater_pg_spark.sources.catalog import export_snapshot

    frames = export_snapshot(spark, sf_dir, "%", allow_unkeyed=True)
    return frames.groupBy("topic", "op").agg(F.count("*").alias("n_frames"))


_EXPORT_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

CDC_EXPORT_SQL = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS topic, 'insert' AS op, COUNT(*) AS n_frames FROM {t}\n"
    f"UNION ALL\n"
    f"SELECT '{t}', 'table_schema', 1"
    for t in _EXPORT_TABLES
)


QUERIES = {
    "cdc_materialize_customer": cdc_materialize_customer,
    "cdc_merge_sink_customer": cdc_merge_sink_customer,
    "cdc_incremental_agg_customer": cdc_incremental_agg_customer,
    "cdc_incremental_agg_minmax": cdc_incremental_agg_minmax,
    "cdc_incremental_agg_minmax_hist": cdc_incremental_agg_minmax_hist,
    "cdc_scd2_as_of": cdc_scd2_as_of,
    "cdc_snapshot_diff_customer": cdc_snapshot_diff_customer,
    "cdc_history_scd2": cdc_history_scd2,
    "cdc_kafka_sink_shape": cdc_kafka_sink_shape,
    "cdc_error_policy_log": cdc_error_policy_log,
    "cdc_materialize_events_composite": cdc_materialize_events_composite,
    "cdc_append_unkeyed": cdc_append_unkeyed,
    "cdc_topic_routing_counts": cdc_topic_routing_counts,
    "cdc_stream_table_join": cdc_stream_table_join,
    "cdc_schema_evolution_customer": cdc_schema_evolution_customer,
    "cdc_schema_evolution_drop": cdc_schema_evolution_drop,
    "cdc_schema_evolution_rename": cdc_schema_evolution_rename,
    "cdc_schema_evolution_widen": cdc_schema_evolution_widen,
    "cdc_zero_column_table": cdc_zero_column_table,
    "cdc_skip_snapshot_customer": cdc_skip_snapshot_customer,
    "cdc_export_snapshot_counts": cdc_export_snapshot_counts,
}

ORACLES = {
    "cdc_materialize_customer": CDC_CUSTOMER_SQL,
    "cdc_merge_sink_customer": CDC_CUSTOMER_SQL,
    "cdc_incremental_agg_customer": CDC_IVM_SQL,
    "cdc_incremental_agg_minmax": CDC_IVM_MINMAX_SQL,
    "cdc_incremental_agg_minmax_hist": CDC_IVM_MINMAX_HIST_SQL,
    "cdc_scd2_as_of": CDC_SCD2_ASOF_SQL,
    "cdc_snapshot_diff_customer": CDC_DIFF_SQL,
    "cdc_history_scd2": CDC_SCD2_SQL,
    "cdc_kafka_sink_shape": CDC_SINK_SQL,
    "cdc_error_policy_log": CDC_ERRLOG_SQL,
    "cdc_materialize_events_composite": CDC_EVENTS_SQL,
    "cdc_append_unkeyed": CDC_UNKEYED_SQL,
    "cdc_topic_routing_counts": CDC_ROUTING_SQL,
    "cdc_stream_table_join": CDC_STREAM_TABLE_JOIN_SQL,
    "cdc_schema_evolution_customer": CDC_EVOLUTION_SQL,
    "cdc_schema_evolution_drop": CDC_EVOLUTION_DROP_SQL,
    "cdc_schema_evolution_rename": CDC_EVOLUTION_RENAME_SQL,
    "cdc_schema_evolution_widen": CDC_EVOLUTION_WIDEN_SQL,
    "cdc_zero_column_table": CDC_ZERO_COLUMN_SQL,
    "cdc_skip_snapshot_customer": CDC_SKIP_SNAPSHOT_SQL,
    "cdc_export_snapshot_counts": CDC_EXPORT_SQL,
}


# ------------------------------------------- replica-consistency digest


def cdc_state_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent digest of the materialized customer state —
    the replica-consistency verifier: source and sink each compute
    (n_rows, xor of per-row md5 digests, bounded per-row sum) locally
    and compare three scalars instead of shipping/sorting either
    table. Commutative aggregates make the digest independent of
    partitioning and row order, so it is identical on ANY engine or
    cluster layout — exactly what a 100 TB "is the replica right?"
    check needs (the reference leaves verification to consumers;
    this supplies it).

    Canonical row repr: every column rendered through fixed-scale
    decimal / plain string so both engines hash identical bytes;
    row hash = first 48 bits of md5 (sum overflow bound: n < 2^15
    rows per 2^63 — the mod-2^30 sum term is the one safe at any n).
    """
    from bottledwater_pg_spark.operators.materialize import materialize

    cust = load_table(spark, sf_dir, "customer")
    state = materialize(customer_cdc(spark, sf_dir), cust.schema)
    repr_col = F.concat_ws(
        "|",
        F.col("c_custkey"),
        F.col("c_name"),
        F.col("c_nationkey"),
        F.col("c_acctbal").cast("decimal(18,2)"),
        F.col("c_mktsegment"),
    )
    h = F.conv(F.substring(F.md5(repr_col), 1, 12), 16, 10).cast("long")
    return state.select(h.alias("h")).agg(
        F.count("*").alias("n_rows"),
        F.expr("bit_xor(h)").alias("xor_digest"),
        F.sum(F.col("h") % F.lit(1 << 30)).alias("sum_digest"),
    )


CDC_CHECKSUM_SQL = f"""
WITH state AS ({{state_sql}}),
h AS (
  SELECT ('0x' || substr(md5(concat_ws('|',
           c_custkey, c_name, c_nationkey,
           CAST(c_acctbal AS DECIMAL(18,2)), c_mktsegment)), 1, 12))::BIGINT
         AS h
  FROM state
)
SELECT COUNT(*) AS n_rows,
       CAST(bit_xor(h) AS BIGINT) AS xor_digest,
       CAST(SUM(h % {1 << 30}) AS BIGINT) AS sum_digest
FROM h
""".format(state_sql=CDC_CUSTOMER_SQL)

QUERIES["cdc_state_checksum"] = cdc_state_checksum
ORACLES["cdc_state_checksum"] = CDC_CHECKSUM_SQL


# ------------------------------------------ Avro wire-format roundtrip


def cdc_avro_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 at runtime, no jar needed: materialize the customer CDC
    stream, encode every row as the reference's actual wire bytes —
    Confluent-framed (0x00 + schema id, kafka/registry.c:63-87) Avro
    BINARY records via the pure-Python codec (sources/avro_codec.py;
    spec-pinned zigzag varints) — then decode the frames back and
    return the typed rows. Hash-checked against the same closed-form
    final-state oracle as cdc_materialize_customer: the full produce-
    side AND consume-side Avro paths must be lossless (doubles ride
    IEEE64 bits, strings utf8, longs zigzag — bit-exact by
    construction). The spark-avro JVM fast path stays gated in
    avro_io.py; this pure path always runs."""
    from bottledwater_pg_spark.operators.materialize import materialize
    from bottledwater_pg_spark.sources.avro_codec import (
        avro_fields_for,
        avro_frames,
        decode_frames,
    )

    cust = load_table(spark, sf_dir, "customer")
    state = materialize(customer_cdc(spark, sf_dir), cust.schema)
    frames = avro_frames(state, ["c_custkey"], CUSTOMER_COLS)
    key_f = avro_fields_for(state.schema, ["c_custkey"])
    val_f = avro_fields_for(state.schema, CUSTOMER_COLS)
    return decode_frames(frames, key_f, val_f).select(*CUSTOMER_COLS)


QUERIES["cdc_avro_envelope_roundtrip"] = cdc_avro_envelope_roundtrip
ORACLES["cdc_avro_envelope_roundtrip"] = CDC_CUSTOMER_SQL


def cdc_registry_evolution_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 consumer path under schema EVOLUTION: one topic whose frames
    carry TWO different value schema ids — v1 (3 columns) for odd
    custkeys, v2 (v1 + ``c_mktsegment``) for even — exactly what a
    Confluent-framed topic looks like mid-evolution. The consumer
    resolves EACH frame's embedded id against the registry
    (kafka/registry.c:63-87 framing; the reference consumer looks up
    per-frame, never pins the first id) and decodes under that frame's
    own schema; the output is the union schema, with v1 frames reading
    null for the later-added column — the add-column semantics.

    Scale: id→schema resolution is a driver-side snapshot shipped in
    the decode closure (O(#schema versions), not O(#frames)); the
    decode itself is the same Arrow-batched narrow map as the
    single-schema path."""
    import shutil
    import tempfile

    from bottledwater_pg_spark.sources.registry_client import (
        LocalSchemaRegistry,
        decode_with_registry,
        frames_with_registry,
    )

    reg_dir = tempfile.mkdtemp(prefix="bw_regq_")
    try:
        reg = LocalSchemaRegistry(reg_dir)
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
        )
        v1_cols = ["c_custkey", "c_name", "c_acctbal"]
        v1 = cust.filter(F.col("c_custkey") % 2 == 1).select(*v1_cols)
        v2 = cust.filter(F.col("c_custkey") % 2 == 0)
        f1 = frames_with_registry(v1, ["c_custkey"], v1_cols, reg,
                                  "customer")
        f2 = frames_with_registry(v2, ["c_custkey"], v1_cols +
                                  ["c_mktsegment"], reg, "customer")
        # the registry snapshot is taken here, while reg_dir exists;
        # frame encoding/decoding later run from closure-held state
        return decode_with_registry(
            f1.unionByName(f2), reg, topic="customer"
        )
    finally:
        shutil.rmtree(reg_dir, ignore_errors=True)


CDC_REGISTRY_EVOLUTION_SQL = """
SELECT c_custkey, c_name, c_acctbal,
       CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment END AS c_mktsegment
FROM customer
"""

QUERIES["cdc_registry_evolution_decode"] = cdc_registry_evolution_decode
ORACLES["cdc_registry_evolution_decode"] = CDC_REGISTRY_EVOLUTION_SQL


N_FANOUT_TABLES = 8


def cdc_many_table_fanout_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-table routing, driver-hashable (the reference's core
    promise is streaming EVERY table in the database through one slot,
    snapshot.c:199-298; one-topic-per-table routing README.md:326-358):
    ONE customer CDC stream fans out to 8 synthetic tables sliced by
    the event key's custkey mod 8 — a pk-change's delete routes to the
    OLD key's table and its insert to the NEW key's, exactly what
    per-table consumers observe — each table materializes
    independently (own compaction shuffle), and the audit emits one
    row per topic: surviving keys + balance checksum. Routing is
    correct iff this equals the closed-form global final state grouped
    by the same mod, which is what the oracle computes.

    Scale: ``topic`` is a pure function of the event's own key (a
    pk-change's delete carries the OLD key, its insert the NEW one),
    so every event of a key belongs to exactly one topic and the 8
    per-topic compactions are one partition of ONE global compaction
    — computed that way: a single compaction shuffle carrying the
    winner's topic, instead of 8 filter+shuffle branches each
    re-scanning the stream (guide §1.2: same rows, one pass). The
    independent per-table JOB shape the reference's loop actually runs
    stays exercised (and measured for table-count flatness) by
    ``cdc_replicate_all_counts`` and the bench many_table soak."""
    from bottledwater_pg_spark.plans.envelope import ROW_JSON_OPTIONS

    cust = load_table(spark, sf_dir, "customer")
    stream = generate_cdc(
        cust, ["c_custkey"], F.col("c_custkey"), 0, "t", CUSTOMER_SPEC
    )
    pk = F.get_json_object("key", "$.c_custkey").cast("long")
    stream = stream.withColumn(
        "topic",
        F.concat(F.lit("slice_"), F.pmod(pk, F.lit(N_FANOUT_TABLES))),
    )
    live = drop_tombstones(compact(stream, extra_cols=("topic",)))
    rows = live.select(
        "topic",
        F.from_json("new_row", cust.schema, ROW_JSON_OPTIONS).alias("r"),
    )
    return rows.groupBy("topic").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("r.c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_acctbal"),
    )


CDC_MANY_TABLE_SQL = f"""
WITH final AS ({CDC_CUSTOMER_SQL})
SELECT 'slice_' || (c_custkey % {N_FANOUT_TABLES}) AS topic,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM final GROUP BY 1
"""

QUERIES["cdc_many_table_fanout_state"] = cdc_many_table_fanout_state
ORACLES["cdc_many_table_fanout_state"] = CDC_MANY_TABLE_SQL


def cdc_replicate_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL ``bottledwater`` main loop (§3.1), driver-hashable:
    ``replicate_database`` runs catalog scan → per-table CDC stream →
    error policy → per-table materialization over every fixture table
    (unkeyed ones via --allow-unkeyed append-only retention), and this
    query emits each table's surviving-row count. The oracle
    recomputes every count in closed form from the mutation rules —
    keyed tables keep rows with ``pknum % 7 <> 0 OR pknum % 11 = 0``
    (delete vs pk-change survival), unkeyed tables append snapshot +
    the ``pknum % 5`` updates — so one hash certifies the whole loop:
    catalog key resolution, snapshot gating, routing, policy pass, and
    both materialization disciplines at once."""
    import shutil
    import tempfile

    from bottledwater_pg_spark.pipeline import replicate_database

    out = tempfile.mkdtemp(prefix="bw_replicate_q_")
    try:
        results = replicate_database(
            spark, sf_dir, out, allow_unkeyed=True
        )
        return spark.createDataFrame(
            sorted(results.items()), "table_name string, n_rows bigint"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _replicate_counts_sql() -> str:
    from bottledwater_pg_spark.sources.catalog import (
        TABLE_KEYS,
        TABLE_PKNUM_SQL,
    )

    parts = []
    for name in sorted(TABLE_KEYS):
        pknum = TABLE_PKNUM_SQL[name]
        if TABLE_KEYS[name]:
            parts.append(
                f"SELECT '{name}' AS table_name, "
                f"CAST(COUNT(*) AS BIGINT) AS n_rows FROM {name} "
                f"WHERE ({pknum}) % 7 <> 0 OR ({pknum}) % 11 = 0"
            )
        else:
            parts.append(
                f"SELECT '{name}' AS table_name, "
                f"CAST(COUNT(*) + COUNT(*) FILTER (({pknum}) % 5 = 0) "
                f"AS BIGINT) AS n_rows FROM {name}"
            )
    return "\nUNION ALL\n".join(parts)


QUERIES["cdc_replicate_all_counts"] = cdc_replicate_all_counts
ORACLES["cdc_replicate_all_counts"] = _replicate_counts_sql()


# --------------------------------------------- lost-message detection


def cdc_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lost-message audit (operators/integrity.py): drop every 97th
    event id from the stream, then recover the exact inclusive gap
    ranges with the two-level bucketed formulation — NO global sort;
    the oracle is the single-window lag formulation it must equal.
    This is how a consumer verifies the reference's no-loss promise
    (bottledwater.c:684-689) actually held across a replay."""
    from bottledwater_pg_spark.operators.integrity import (
        sequence_gap_ranges,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id").filter(
        F.col("event_id") % 97 != 0
    )
    return sequence_gap_ranges(ev, "event_id")


CDC_GAP_SQL = """
WITH present AS (
  SELECT DISTINCT event_id FROM events WHERE event_id % 97 <> 0
),
g AS (
  SELECT event_id, LAG(event_id) OVER (ORDER BY event_id) AS prev
  FROM present
)
SELECT prev + 1 AS gap_start, event_id - 1 AS gap_end
FROM g
WHERE prev IS NOT NULL AND event_id - prev > 1
"""

QUERIES["cdc_sequence_gap_audit"] = cdc_sequence_gap_audit
ORACLES["cdc_sequence_gap_audit"] = CDC_GAP_SQL


# ------------------------------------------- ADD PRIMARY KEY mid-stream


def cdc_add_primary_key_midstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD PRIMARY KEY mid-stream — the last cell of the reference's
    DDL matrix (spec/functional/topic_spec.rb:245-274: a table created
    WITHOUT a primary key streams unkeyed, then
    ``ALTER TABLE .. ADD COLUMN id SERIAL PRIMARY KEY`` lands and the
    pipeline must keep flowing with subsequent events keyed).

    Modeled end-to-end on the orders fixture: phase 1 streams odd
    orderkeys UNKEYED under schema v1 (no ``o_orderkey`` column — the
    reference's PK column literally does not exist yet); a v2
    TableSchema control event announces the rewritten table (PK column
    added, key schema now present — protocol_client.c:313-350
    re-parse); phase 2 streams even orderkeys KEYED: inserts, then
    updates (k%6: status -> 'X'), then deletes (k%10). Consumer
    materialization under the reference's Kafka layout (compaction off
    for topics that ever held unkeyed messages, topic_spec.rb:118-123):
    unkeyed records are append-only retained — decoded under the
    NEWEST schema they read null for the later-added PK column, PG's
    own post-ADD-COLUMN read for never-rewritten payloads — while
    keyed records compact per key with tombstones dropped.

    Scale: the unkeyed branch is a shuffle-free projection; the keyed
    branch is the standard single-shuffle max_by compaction; the two
    branches union without an exchange.
    """
    from bottledwater_pg_spark.operators.materialize import (
        append_only,
        materialize,
    )
    from bottledwater_pg_spark.schema_tracker import (
        resolve_schemas,
        table_schema_events,
    )
    from bottledwater_pg_spark.sources.generator import snapshot_events

    relid = 16396
    k = F.col("o_orderkey")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    v1_base = base.filter(k % 2 == 1).select(
        "o_custkey", "o_orderstatus", "o_totalprice"
    )
    # phase 1: unkeyed inserts (empty pk_cols -> null key), lsn = k*10
    v1_rows = snapshot_events(
        v1_base, [], F.col("o_custkey"), relid, "orders"
    )
    v2_base = base.filter(k % 2 == 0)
    v2_inserts = snapshot_events(
        v2_base, ["o_orderkey"], k, relid, "orders"
    ).withColumn("lsn", F.col("lsn") + 5)
    v2_updates = (
        snapshot_events(
            v2_base.filter(k % 6 == 0).withColumn("o_orderstatus", F.lit("X")),
            ["o_orderkey"], k, relid, "orders",
        )
        .withColumn("lsn", F.col("lsn") + 6)
        .withColumn("op", F.lit("update"))
    )
    v2_deletes = (
        snapshot_events(
            v2_base.filter(k % 10 == 0), ["o_orderkey"], k, relid, "orders"
        )
        .withColumn("lsn", F.col("lsn") + 7)
        .withColumn("op", F.lit("delete"))
        .withColumn("new_row", F.lit(None).cast("string"))
    )
    stream = (
        table_schema_events(v1_base, relid, "orders", lsn=0)
        .unionByName(v1_rows)
        .unionByName(table_schema_events(v2_base, relid, "orders", lsn=1))
        .unionByName(v2_inserts)
        .unionByName(v2_updates)
        .unionByName(v2_deletes)
    )
    tracker = resolve_schemas(stream)
    newest = tracker.current(relid)  # v2: includes o_orderkey
    unkeyed_state = append_only(stream.filter(F.col("key").isNull()), newest)
    keyed_state = materialize(stream.filter(F.col("key").isNotNull()), newest)
    return unkeyed_state.unionByName(keyed_state).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


CDC_ADD_PK_SQL = """
SELECT CAST(NULL AS BIGINT) AS o_orderkey, o_custkey, o_orderstatus,
       o_totalprice
FROM orders WHERE o_orderkey % 2 = 1
UNION ALL
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 6 = 0 THEN 'X' ELSE o_orderstatus END
         AS o_orderstatus,
       o_totalprice
FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 0
"""

QUERIES["cdc_add_primary_key_midstream"] = cdc_add_primary_key_midstream
ORACLES["cdc_add_primary_key_midstream"] = CDC_ADD_PK_SQL


# --------------------------------------------- error policy x DDL


def cdc_error_policy_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error policy composed with the DDL matrix (the reference tests
    evolution UNDER failure: topic_spec.rb's autocreate-off crash
    matrix with ``--on-error={exit,log}``; table_mapper.c:88-118 is
    the policy the kafka side applies to a table whose registration
    failed — mark it deleted, drop its events, keep every OTHER table
    flowing).

    Two interleaved tables: customer streams its full deterministic
    CDC cycle; orders announces a good v1 TableSchema, snapshots, then
    a POISONED v2 announcement (unparseable schema JSON — the
    registry-POST failure) followed by post-DDL updates and deletes.
    Under ``log`` the registry marks orders failed at the poison lsn:
    its post-DDL events drop, so its state is the pre-DDL snapshot —
    no 'X' statuses, no deletes applied — while customer's final
    state is complete and untouched. (policy=exit raising with state
    intact is pinned in tests/test_errors_types_schema.py.)

    Output: one audit row per topic — surviving keys + a content
    check (sum of acctbal / count of post-DDL 'X' statuses, which
    MUST be zero when the drop is correct).
    """
    from bottledwater_pg_spark.errors import ErrorPolicy, apply_ddl_error_policy
    from bottledwater_pg_spark.schema_tracker import table_schema_events
    from bottledwater_pg_spark.sources.generator import snapshot_events

    cust = load_table(spark, sf_dir, "customer")
    cust_stream = customer_cdc(spark, sf_dir)
    cust_ctl = table_schema_events(cust, 16385, "customer", lsn=0)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    relid_o = 16388
    # Must exceed every stream-generated lsn: lsns are
    # pk_num * LSN_STRIDE (stride 10) so at large SF a fixed 1e9 can be
    # overrun by o_orderkey * 10 (orderkey reaches 6M*SF). 1<<62 is
    # safely above any stride-encoded 64-bit key.
    POISON_LSN = 1 << 62
    o_ctl_v1 = table_schema_events(orders, relid_o, "orders", lsn=0)
    o_snapshot = snapshot_events(orders, ["o_orderkey"], k, relid_o, "orders")
    poisoned = o_ctl_v1.select(
        "op", "relid", "xid",
        F.lit(POISON_LSN).cast("long").alias("lsn"),
        "key", "old_row", "new_row",
        F.lit('{"this is not": a schema').alias("schema_json"),
        "topic",
    )
    # post-DDL events that MUST be dropped under log
    o_updates = (
        snapshot_events(
            orders.withColumn("o_orderstatus", F.lit("X")),
            ["o_orderkey"], k, relid_o, "orders",
        )
        .withColumn("lsn", F.col("lsn") + POISON_LSN + 1)
        .withColumn("op", F.lit("update"))
    )
    o_deletes = (
        snapshot_events(
            orders.filter(k % 4 == 0), ["o_orderkey"], k, relid_o, "orders"
        )
        .withColumn("lsn", F.col("lsn") + POISON_LSN + 3)
        .withColumn("op", F.lit("delete"))
        .withColumn("new_row", F.lit(None).cast("string"))
    )
    stream = (
        cust_ctl.unionByName(cust_stream)
        .unionByName(o_ctl_v1)
        .unionByName(o_snapshot)
        .unionByName(poisoned)
        .unionByName(o_updates)
        .unionByName(o_deletes)
    )
    good, registry = apply_ddl_error_policy(stream, ErrorPolicy.LOG)
    assert registry.lookup(relid_o) is None  # orders marked failed
    assert registry.lookup(16385) is not None  # customer still live
    # the surviving stream feeds BOTH per-table materializations —
    # persist it once or the full union (generation + policy filter)
    # recomputes per branch
    from bottledwater_pg_spark.session import persist_tracked

    good = persist_tracked(good)
    cust_state = materialize(good.filter(F.col("relid") == 16385), cust.schema)
    ord_state = materialize(good.filter(F.col("relid") == relid_o), orders.schema)
    return (
        cust_state.select(
            F.lit("customer").alias("topic"),
            F.lit(1).cast("long").alias("n"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("check_val"),
        )
        .unionByName(
            ord_state.select(
                F.lit("orders").alias("topic"),
                F.lit(1).cast("long").alias("n"),
                F.when(F.col("o_orderstatus") == "X", F.lit(1))
                .otherwise(F.lit(0))
                .cast("decimal(18,2)")
                .alias("check_val"),
            )
        )
        .groupBy("topic")
        .agg(
            F.sum("n").alias("n_rows"),
            F.sum("check_val").cast("double").alias("check_val"),
        )
    )


CDC_ERRDDL_SQL = """
WITH cust_final AS (
  SELECT CASE WHEN c_custkey % 11 = 0 THEN c_custkey + 1000000
              ELSE c_custkey END AS k,
         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS bal
  FROM customer
  WHERE c_custkey % 7 <> 0 OR c_custkey % 11 = 0
)
SELECT 'customer' AS topic, COUNT(*) AS n_rows,
       CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS check_val
FROM cust_final
UNION ALL
SELECT 'orders' AS topic, COUNT(*) AS n_rows, 0.0 AS check_val
FROM orders
"""

QUERIES["cdc_error_policy_ddl"] = cdc_error_policy_ddl
ORACLES["cdc_error_policy_ddl"] = CDC_ERRDDL_SQL
