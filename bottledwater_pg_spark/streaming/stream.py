"""Structured Streaming plane: streaming CDC ingestion and
materialization, windowed aggregation with watermarks, and the
checkpointed exactly-once sink pattern.

Reference mapping:

* The replication-protocol poll loop (client/replication.c:185-225)
  becomes ``spark.readStream`` over the envelope source; Kafka offsets
  / file ordering replace LSN-positioned WAL polling.
* Checkpointing (T2, kafka/bottledwater.c:678-715) — the reference is
  explicitly at-least-once ("messages may be duplicated",
  bottledwater.c:684-689). Here ``checkpointLocation`` plus an
  *idempotent* merge in ``foreachBatch`` upgrades that to effective
  exactly-once: replayed events collapse because compaction is keyed
  by (key, lsn)-max, so duplicates change nothing.
* Backpressure (T3, bottledwater.c:723-737) maps to
  ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``.
* Transaction atomicity (T1): a micro-batch is the unit of commit;
  within a batch, events of one xid are applied together.

The state store is a parquet directory keyed by table — at cluster
scale this would be Delta/Iceberg MERGE; the merge logic is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bottledwater_pg_spark.operators.materialize import compact, drop_tombstones
from bottledwater_pg_spark.plans.envelope import ROW_JSON_OPTIONS, envelope_schema
from bottledwater_pg_spark.streaming import fsio

# The committed keyed state: compact(..., extra_cols=("topic",)) rows.
# Reads pin this schema so they plan without a parquet footer job.
STATE_COLS = ("key", "op", "lsn", "new_row", "topic")
STATE_SCHEMA = T.StructType([envelope_schema()[c] for c in STATE_COLS])


def _run_key_of(checkpoint_dir: str) -> str:
    """Stable slice namespace for per-epoch state writes: epoch ids
    are unique only within one checkpoint lineage, so slice dirs are
    keyed by (checkpoint, epoch) — a restarted query (same checkpoint)
    overwrites its replayed epoch slice, while a DIFFERENT query over
    the same state dir gets its own namespace instead of clobbering
    slice 0 of the first.

    The path is resolved (realpath) before hashing so a restart that
    spells the SAME checkpoint differently — relative vs absolute,
    trailing slash, symlink — lands in the same namespace and its
    replayed epochs overwrite their own slices instead of duplicating
    them under a fresh run key.

    The key carries a non-numeric ``k`` prefix: a raw md5 prefix can
    happen to match scientific notation (``899682e19037``), which
    Spark's partition-column type inference reads back as a DOUBLE
    (that one is literally infinity) — the probe's run-key string
    comparison then never matches and replay protection silently
    dies. Found by the full suite on a 1-in-~400 tmp_path draw; the
    prefix makes every key unambiguously a string for the inference
    in both engines forever. (URI checkpoints normalize textually —
    fsio.normkey — since realpath has no meaning on an object
    store.)"""
    import hashlib

    resolved = fsio.normkey(checkpoint_dir)
    return "k" + hashlib.md5(resolved.encode("utf-8")).hexdigest()[:12]


def _fold_legacy_run_slices(
    roots: tuple[str, ...], checkpoint_dir: str
) -> int:
    """Migration shim for the realpath normalization of run keys:
    slices written BEFORE the normalization were keyed by the
    checkpoint path AS SPELLED, so a state dir whose producer spelled
    the same checkpoint with a relative path / trailing slash /
    symlink now sits under a key the restarted query no longer owns —
    its first replayed epoch would then DUPLICATE its slice under the
    fresh key instead of overwriting, and StreamingDedupIndex's probe
    filter would treat the stale same-checkpoint slice as a prior run.

    On start(), fold each legacy run dir into the current one: move
    each ``epoch=`` child across, preferring the current key's copy
    when both exist (it was re-written after the upgrade, so it is
    the authoritative replay). TWO legacy spellings exist: the
    pre-realpath key md5(path AS SPELLED)[:12] and the pre-``k``-
    prefix key md5(realpath)[:12] (see _run_key_of on why the prefix
    exists). Returns how many epoch slices were folded. Only the
    spelling handed to THIS start() can be reconstructed — a legacy
    run written under a third spelling of the same checkpoint stays
    a foreign run, which is the pre-fix behavior, not a new failure
    mode."""
    import hashlib

    # URI state/checkpoint paths cannot hold legacy-keyed runs: the
    # pre-normalization machinery was os.path-only (URI support
    # arrived WITH fsio, after the run-key fix), so a legacy layout is
    # only ever a local-filesystem artifact. Encoding that here keeps
    # the shim's per-epoch directory renames — fine on the atomic-
    # rename filesystems that could have produced the layout — off
    # object stores entirely, where a crash mid-move would strand an
    # epoch slice between two run dirs.
    if fsio.is_uri(checkpoint_dir) or any(fsio.is_uri(r) for r in roots):
        return 0
    current = _run_key_of(checkpoint_dir)
    legacies = [
        hashlib.md5(checkpoint_dir.encode("utf-8")).hexdigest()[:12],
        hashlib.md5(
            fsio.normkey(checkpoint_dir).encode("utf-8")
        ).hexdigest()[:12],
    ]
    folded = 0
    for legacy in legacies:
        if legacy == current:
            continue
        for root in roots:
            src = os.path.join(root, f"run={legacy}")
            if not fsio.isdir(src):
                continue
            dst = os.path.join(root, f"run={current}")
            fsio.makedirs(dst)
            for child in fsio.listdir(src):
                s, d = os.path.join(src, child), os.path.join(dst, child)
                if fsio.exists(d):
                    # post-upgrade replay already rewrote it
                    fsio.rmtree(s)
                else:
                    fsio.rename(s, d)
                    folded += 1
            fsio.rmdir(src)
    return folded


def _is_datasource_lookup_failure(exc: Exception) -> bool:
    """Only the class-not-found/lookup failure means 'package absent';
    every other error (bad option, malformed pattern) must surface
    as itself, not be relabeled."""
    msg = str(exc)
    return any(
        t in msg
        for t in (
            "DATA_SOURCE_NOT_FOUND",
            "Failed to find data source",
            "ClassNotFoundException",
        )
    )


def write_envelope_stream(events: DataFrame, path: str, num_files: int = 8):
    """Persist a generated CDC stream as parquet split into several
    files so the file-source can replay it as multiple micro-batches
    (each file = one 'frame batch')."""
    events.repartition(num_files).write.mode("overwrite").parquet(path)


def read_envelope_stream(spark: SparkSession, path: str,
                         files_per_trigger: int = 1) -> DataFrame:
    """Streaming source over envelope parquet; one file per trigger to
    emulate frame-by-frame arrival with backpressure (T3)."""
    return (
        spark.readStream.schema(envelope_schema())
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


def read_kafka_envelope_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic_pattern: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int = 100_000,
) -> DataFrame:
    """Production S4/S5: consume the CDC envelope from Kafka — one
    topic per table (R1), offsets as the restart cursor (T2),
    ``maxOffsetsPerTrigger`` as backpressure (T3). The message value is
    the JSON envelope row; the Kafka record key is the reference's
    partition key (bottledwater.c:784-808).

    Gated: the kafka data source ships as a separate package
    (spark-sql-kafka) and no broker exists in this image — the file
    source (read_envelope_stream) is the tested equivalent; this wires
    the identical downstream plan for a real deployment.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribePattern", topic_pattern)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    )
    try:
        raw = reader.load()
    except Exception as exc:  # noqa: BLE001 — inspect, relabel only lookup
        if not _is_datasource_lookup_failure(exc):
            raise
        raise RuntimeError(
            "kafka data source unavailable (spark-sql-kafka package not "
            "on the classpath); use read_envelope_stream for the "
            "file-backed equivalent"
        ) from exc
    return raw.select(
        F.from_json(
            F.col("value").cast("string"), envelope_schema(), ROW_JSON_OPTIONS
        ).alias("e")
    ).select("e.*")


def write_kafka_envelope_stream(
    events_stream: DataFrame,
    bootstrap_servers: str,
    checkpoint_dir: str,
):
    """Production K1/K2: produce the keyed message frame to Kafka —
    tombstones ride as null values, Kafka's own key hashing gives the
    reference's consistent partitioning. Gated like the reader."""
    from bottledwater_pg_spark.sink import kafka_sink_frame

    frame = kafka_sink_frame(events_stream)
    writer = (
        frame.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("checkpointLocation", checkpoint_dir)
    )
    try:
        return writer.start()
    except Exception as exc:  # noqa: BLE001
        if not _is_datasource_lookup_failure(exc):
            raise
        raise RuntimeError(
            "kafka data source unavailable (spark-sql-kafka package not "
            "on the classpath); use kafka_sink_frame + a tested sink"
        ) from exc


class StreamingMaterializer:
    """foreachBatch-driven latest-by-key state maintenance.

    Per micro-batch: one latest-by-lsn compaction of the stored state
    (read with its schema pinned) unioned with the batch's raw events,
    committed as the next state generation — two Spark jobs per table,
    the exchange and the write. The lsn-max winner makes a replayed
    batch yield the same state (idempotent => exactly-once effective
    semantics).
    """

    def __init__(self, spark: SparkSession, state_dir: str,
                 row_schema: T.StructType, relid: int | None = None,
                 on_error: str = "exit"):
        """``row_schema`` is the INITIAL decode schema. Pass ``relid``
        to enable in-band DDL drift: each micro-batch folds that
        table's TableSchema control events into a SchemaTracker
        (protocol_client.c:313-350 re-parse) and ``current_rows``
        decodes with the NEWEST schema — the live-stream counterpart
        of the batch DDL matrix (topic_spec.rb:113-274). Drift mode
        also retains unkeyed DML append-only (compaction is off for
        topics that ever held unkeyed messages, topic_spec.rb:118-123)
        so the ADD-PRIMARY-KEY cell streams end-to-end.

        ``on_error`` (drift mode) is the reference's error policy
        applied to LIVE schema registration failures
        (table_mapper.c:88-118): ``exit`` fails the streaming query
        with state intact; ``log`` marks the table failed at the
        poison lsn and drops its subsequent events while the pipe
        keeps flowing."""
        from bottledwater_pg_spark.schema_tracker import SchemaTracker

        self.spark = spark
        self.state_dir = state_dir
        self.row_schema = row_schema
        self.relid = relid
        self.on_error = on_error
        self.failed_at_lsn: int | None = None
        self.tracker = SchemaTracker() if relid is not None else None
        self._run_key = "adhoc"  # start() re-keys from the checkpoint
        fsio.makedirs(state_dir)
        from bottledwater_pg_spark.streaming.statecommit import (
            GenerationalState,
        )

        self._state = GenerationalState(state_dir, "state")
        # Restart-safe: a restarted process (same state_dir, same
        # checkpointLocation — committed batches are NOT replayed) must
        # MERGE into the standing state, not replace it; content-check
        # rather than bare isdir so a crashed first write doesn't count
        # (same discipline as StreamingDedupIndex)
        self._have_state = self._state_on_disk()
        if self.tracker is not None:
            self._load_drift_meta()

    # -- state io ---------------------------------------------------
    # Commits go through the manifest/pointer discipline
    # (streaming/statecommit.py): write a NEW generation dir, flip the
    # small JSON pointer. No directory rename anywhere in the commit —
    # correct and O(pointer) on object stores, where the old
    # write-then-swap's rename was a non-atomic O(data) copy+delete
    # that re-opened the crash window it existed to close.
    def _state_path(self) -> str | None:
        """The COMMITTED current state dir (resolved through the
        manifest; pre-r13 legacy layouts adopted), or None."""
        return self._state.current_path()

    def _state_on_disk(self) -> bool:
        return self._state_path() is not None

    def _commit_state(self, df: DataFrame) -> None:
        """Write ``df`` as the next state generation and commit it by
        pointer flip."""
        staged = self._state.staging_path()
        df.write.mode("overwrite").parquet(staged)
        self._state.promote(staged)
        self._have_state = True

    # drift-mode durable metadata: the tracker's schema versions and
    # the error-policy cursor persist beside the row state — after a
    # restart the checkpoint does NOT replay the control events that
    # built them, so memory-only copies would silently decode with the
    # stale initial schema and resume a failed table's flow
    def _drift_meta_path(self) -> str:
        return os.path.join(self.state_dir, "drift_meta.json")

    def _save_drift_meta(self) -> None:
        fsio.write_json_meta(
            self._drift_meta_path(),
            {
                "versions": self.tracker.versions,
                "failed_at_lsn": self.failed_at_lsn,
            },
        )

    def _load_drift_meta(self) -> None:
        meta = fsio.read_json_meta(self._drift_meta_path())
        if meta is None:
            return
        self.tracker.versions = {
            int(k): v for k, v in meta["versions"].items()
        }
        self.failed_at_lsn = meta["failed_at_lsn"]

    def read_state(self) -> DataFrame | None:
        if not self._have_state:
            return None
        return self.spark.read.schema(STATE_SCHEMA).parquet(
            self._state_path()
        )

    def current_schema(self) -> T.StructType:
        """The newest schema seen in-band (drift mode), else the
        constructed one. Pre-drift payloads decoded with the newest
        schema read null for later-added columns — PG's own
        no-backfill ADD COLUMN semantics."""
        if self.tracker is not None:
            newest = self.tracker.current(self.relid)
            if newest is not None:
                return newest
        return self.row_schema

    def current_rows(self, with_topic: bool = False) -> DataFrame | None:
        """Decode the compacted state into typed rows. The stored state
        keeps tombstones (they must keep suppressing older events in
        future merges); they are filtered only here, at read time.
        ``with_topic`` appends ``last_topic`` — the topic of each
        key's winning event, which is the NEW topic for keys updated
        after an ALTER TABLE RENAME (table_mapper.c:185-242)."""
        state = self.read_state()
        if state is None:
            return None
        schema = self.current_schema()
        cols = [
            F.from_json("new_row", schema, ROW_JSON_OPTIONS).alias("r")
        ]
        if with_topic:
            cols.append(F.col("topic").alias("last_topic"))
        out = drop_tombstones(state).select(*cols)
        return out.select("r.*", "last_topic") if with_topic \
            else out.select("r.*")

    def unkeyed_rows(self) -> DataFrame | None:
        """Drift mode only: the append-only retained unkeyed DML rows,
        decoded with the newest schema."""
        path = os.path.join(self.state_dir, "unkeyed")
        if not fsio.isdir(path) or not any(
            f.endswith(".parquet") or f.startswith(("epoch=", "run="))
            for f in fsio.listdir(path)
        ):
            return None
        return (
            self.spark.read.option("basePath", path).parquet(path)
            .select(F.from_json("new_row", self.current_schema(),
                                ROW_JSON_OPTIONS).alias("r"))
            .select("r.*")
        )

    # -- the batch hook --------------------------------------------
    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from bottledwater_pg_spark.plans.envelope import DML_OPS

        if self.tracker is not None:
            # fold this batch's TableSchema control trickle into the
            # tracker — O(#schema changes), never the row stream —
            # VALIDATING each announcement under the error policy
            # (the live twin of errors.apply_ddl_error_policy)
            import json as _json

            from bottledwater_pg_spark.errors import (
                SchemaRegistrationError,
            )
            from bottledwater_pg_spark.plans.envelope import (
                OP_TABLE_SCHEMA,
            )

            # sorted on the driver: one job, not a range sort's three
            ctl = sorted(
                batch.filter(F.col("op") == OP_TABLE_SCHEMA)
                .select("relid", "lsn", "schema_json")
                .collect(),
                key=lambda r: r["lsn"],
            )
            for r in ctl:
                if r["relid"] != self.relid or self.failed_at_lsn is not None:
                    continue
                try:
                    T.StructType.fromJson(_json.loads(r["schema_json"]))
                except Exception as exc:
                    if self.on_error == "exit":
                        raise SchemaRegistrationError(
                            f"relid {r['relid']} schema registration "
                            f"failed at lsn {r['lsn']} mid-stream "
                            f"(policy=exit)"
                        ) from exc
                    self.failed_at_lsn = int(r["lsn"])
                    continue
                self.tracker.observe(r["relid"], r["schema_json"])
            if ctl:
                self._save_drift_meta()
            # drift mode is per-relid: scope EVERYTHING that follows
            # to this table so an interleaved multi-table stream can't
            # leak a foreign table's rows (pk-JSON keys collide across
            # tables) into this state or its unkeyed store
            batch = batch.filter(F.col("relid") == self.relid)
            if self.failed_at_lsn is not None:
                # drop this table's events from the poison lsn on —
                # option (b): keep the pipe alive minus the table
                batch = batch.filter(
                    F.col("lsn") < self.failed_at_lsn
                )
            # unkeyed DML is retained append-only, one idempotent
            # overwrite per epoch (a replayed batch rewrites the same
            # directory, so restart never duplicates)
            unkeyed = batch.filter(
                F.col("op").isin(*DML_OPS)
                & F.col("key").isNull()
                & F.col("new_row").isNotNull()
            ).select("lsn", "new_row")
            # skip the write when the batch carries no unkeyed DML:
            # a keyed-only drift table would otherwise accumulate one
            # empty epoch= directory per batch forever and flip
            # unkeyed_rows() from None permanently
            if not unkeyed.isEmpty():
                unkeyed.write.mode("overwrite").parquet(
                    os.path.join(
                        self.state_dir, "unkeyed",
                        f"run={self._run_key}", f"epoch={epoch_id}",
                    )
                )
        # compact(prev ∪ batch) in ONE exchange: pre-compacting the
        # batch could not change a winner, since max-lsn is idempotent
        # and an lsn tie can only be an exact replay. Tombstones are
        # KEPT so a later delete still beats a stored insert (and vice
        # versa under out-of-order replay); the winner's topic rides
        # along for the rename cells. New generation + pointer flip: a
        # crash mid-write never corrupts state (statecommit.py).
        merged = batch.select(*STATE_COLS)
        prev = self.read_state()
        if prev is not None:
            merged = prev.unionByName(merged)
        self._commit_state(compact(merged, extra_cols=("topic",)))

    def expire_tombstones(self, up_to_lsn: int | str) -> int:
        """Kafka ``delete.retention.ms`` applied to the parquet state
        (the reference's compacted topics eventually forget deleted
        keys, README.md:283-297; kafka/bottledwater.c:533-541 emits the
        null-value tombstone for exactly this): drop tombstone entries
        with ``lsn <= up_to_lsn`` and return how many were dropped.
        ``up_to_lsn`` is REQUIRED — the caller must assert the replay
        horizon; pass the explicit sentinel ``'all'`` only when no
        producer can ever re-deliver (e.g. the source stream is
        finished and deleted). Only expire past the point every
        producer has replayed — an older re-delivered insert for an
        expired key would otherwise resurrect it; bounding by lsn is
        the correctness condition. Without expiry a long-running
        stream's state grows with every key EVER deleted, not with
        live keys — the state-growth leak the reference's valgrind
        matrix guards (spec/functional/message_spec.rb:183-189).

        MAINTENANCE WINDOW ONLY: call while no streaming query is
        writing this state (the swap is not synchronized with a
        concurrent process_batch — run it between triggers or with
        the query stopped, the way Kafka compacts closed segments,
        never the active head)."""
        # positive validation: only an int bound or the literal
        # sentinel pass — in particular None (the old implicit-full-
        # expiry default) must NOT fall through to the lsn comparison
        # below, where `lsn <= NULL` is NULL for every tombstone and
        # filter(~doomed) would silently drop them ALL (i.e. None
        # would behave exactly like 'all' without the caller asserting
        # the replay horizon)
        if isinstance(up_to_lsn, str):
            if up_to_lsn != "all":
                raise ValueError(
                    "up_to_lsn must be an lsn bound or the explicit "
                    "sentinel 'all'"
                )
        elif not isinstance(up_to_lsn, int) or isinstance(up_to_lsn, bool):
            raise TypeError(
                "up_to_lsn must be an int lsn bound or the explicit "
                f"sentinel 'all', got {up_to_lsn!r}"
            )
        state = self.read_state()
        if state is None:
            return 0
        from bottledwater_pg_spark.plans.envelope import OP_DELETE

        doomed = (F.col("op") == OP_DELETE)
        if up_to_lsn != "all":
            doomed = doomed & (F.col("lsn") <= F.lit(up_to_lsn))
        n_before = state.count()
        self._commit_state(state.filter(~doomed))
        return n_before - self.read_state().count()

    def start(self, events_stream: DataFrame, checkpoint_dir: str):
        """Run the stream with a checkpoint (restart-safe offsets)."""
        _fold_legacy_run_slices(
            (os.path.join(self.state_dir, "unkeyed"),), checkpoint_dir
        )
        self._run_key = _run_key_of(checkpoint_dir)
        return (
            events_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .start()
        )


def _event_time_ready(events: DataFrame, col: str = "ts") -> DataFrame:
    """Watermarks require TIMESTAMP (with local tz), not TIMESTAMP_NTZ.
    On the streaming path, cast NTZ event time to TIMESTAMP — identity
    on values under the UTC session timezone. Batch DataFrames keep NTZ
    so oracle comparisons see the same type the tables carry."""
    if events.isStreaming and isinstance(
        events.schema[col].dataType, T.TimestampNTZType
    ):
        return events.withColumn(col, F.col(col).cast("timestamp"))
    return events


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming windowed aggregation with late-data handling: tumbling
    event-time windows per event_type. Works identically on a batch
    DataFrame (for oracle checks) and a streaming one."""
    events = _event_time_ready(events)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def hierarchical_rollup(
    events: DataFrame,
    levels: tuple[str, ...] = ("1 minute", "1 hour", "1 day"),
) -> DataFrame:
    """Hypertable-style continuous aggregate: the finest level
    aggregates raw events ONCE; every coarser level re-aggregates the
    previous level's partials (day from 24 hour rows, not 86400x the
    raw events). count/sum are decomposable, so the telescoped result
    is exactly the direct aggregate — sums stay DECIMAL until the
    final cast so re-aggregation loses nothing. This is the
    materialized-rollup pattern TimescaleDB/Druid run continuously;
    in Spark each level is a trivially partial-aggregated shuffle
    whose input shrinks by orders of magnitude per step, and
    intermediate levels are exactly what a serving layer would
    persist (the finest table answers any ad-hoc granularity).
    Tumbling windows at every level are epoch-aligned, so each fine
    window nests in exactly one coarse window by construction.
    """
    ev = _event_time_ready(events)
    cur = ev.groupBy(F.window("ts", levels[0]).alias("w"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
    )
    for lvl in levels[1:]:
        cur = cur.groupBy(
            F.window(F.col("w.start"), lvl).alias("w"), "event_type"
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
    return cur.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("total_value"),
    )


def sliding_window_counts(events: DataFrame, window: str = "2 hours",
                          slide: str = "30 minutes",
                          watermark: str = "2 hours") -> DataFrame:
    """Sliding event-time windows: each event lands in window/slide
    overlapping windows (here 4). Same unified batch/streaming plan as
    the tumbling variant; state size scales with windows-per-event x
    group cardinality, which is why the slide ratio is kept small."""
    events = _event_time_ready(events)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sessionized_counts(events: DataFrame, gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """Session windows per user: activity bursts separated by > gap."""
    events = _event_time_ready(events)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


# shared by the stateful latest-by-key family (plain / TTL / tws):
# one source of truth for the operator's row and state shapes
_STATEFUL_OUT_DDL = [
    ("key", T.StringType()),
    ("op", T.StringType()),
    ("lsn", T.LongType()),
    ("new_row", T.StringType()),
]
_STATEFUL_STATE_DDL = [
    ("lsn", T.LongType()),
    ("op", T.StringType()),
    ("new_row", T.StringType()),
]


def _stateful_schemas():
    out = T.StructType([T.StructField(n, t) for n, t in _STATEFUL_OUT_DDL])
    st = T.StructType([T.StructField(n, t) for n, t in _STATEFUL_STATE_DDL])
    return out, st


def _dml_by_key(events_stream: DataFrame) -> DataFrame:
    from bottledwater_pg_spark.plans.envelope import DML_OPS

    return events_stream.filter(
        F.col("op").isin(*DML_OPS) & F.col("key").isNotNull()
    ).select("key", "op", "lsn", "new_row")


def _fold_best(pdfs, best):
    """Vectorized max-lsn fold: only each chunk's argmax row matters —
    no per-row iterrows, no sort. Returns (best, changed)."""
    best_lsn, best_op, best_row = best
    changed = False
    for pdf in pdfs:
        if not len(pdf):
            continue
        r = pdf.loc[pdf["lsn"].idxmax()]
        if best_lsn is None or int(r["lsn"]) > best_lsn:
            best_lsn = int(r["lsn"])
            best_op = r["op"]
            best_row = r["new_row"]
            changed = True
    return (best_lsn, best_op, best_row), changed


def stateful_latest_by_key(events_stream: DataFrame):
    """TRUE streaming latest-by-key: a custom stateful operator via
    ``applyInPandasWithState`` — per-key GroupState holds the winning
    (lsn, op, new_row) across micro-batches and emits the new winner
    ONLY when it changes (a batch of losing late/replayed events
    produces no redundant re-emission).

    This is the always-on form of the foreachBatch materializer: state
    lives in the streaming state store (checkpointed, partitioned by
    key across executors) instead of a parquet swap directory. Late or
    replayed events lose against the stored lsn — same idempotence
    argument as the batch path.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema, state_schema = _stateful_schemas()

    def update_fn(key, pdfs, state: "GroupState"):
        best, changed = _fold_best(
            pdfs, state.get if state.exists else (None, None, None)
        )
        if not changed:
            return
        state.update(best)
        best_lsn, best_op, best_row = best
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "op": [best_op],
                "lsn": [best_lsn],
                "new_row": [best_row],
            }
        )

    return _dml_by_key(events_stream).groupBy("key").applyInPandasWithState(
        update_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_latest_by_key_ttl(events_stream: DataFrame,
                               tombstone_ttl_ms: int = 60_000):
    """Latest-by-key with tombstone retention: like
    :func:`stateful_latest_by_key`, but when a key's winning event is a
    delete, its state entry is held only ``tombstone_ttl_ms`` longer and
    then purged (an ``op='expired'`` row is emitted so downstream
    compaction can drop the key).

    This is Kafka log compaction's ``delete.retention.ms`` applied to
    the state store: the reference emits null-value tombstones precisely
    so compacted topics eventually forget deleted keys
    (/root/reference/kafka/bottledwater.c:533-541, README.md:283-297);
    without expiry, a 100 TB stream's state grows monotonically with
    every key ever deleted. Expiry uses processing-time timeouts — no
    per-key timers on the driver, the state store handles it per
    partition.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema, state_schema = _stateful_schemas()

    def update_fn(key, pdfs, state: "GroupState"):
        if state.hasTimedOut:
            lsn, op, _ = state.get
            state.remove()
            if op == "delete":
                yield pd.DataFrame(
                    {
                        "key": [key[0]],
                        "op": ["expired"],
                        "lsn": [lsn],
                        "new_row": [None],
                    }
                )
            return
        best, changed = _fold_best(
            pdfs, state.get if state.exists else (None, None, None)
        )
        best_lsn, best_op, best_row = best
        state.update(best)
        # the timeout must be (re-)armed on EVERY invocation with data
        # (timeouts clear when a key receives input), so this runs even
        # when the winner did not change
        if best_op == "delete":
            state.setTimeoutDuration(tombstone_ttl_ms)
        if not changed:
            return
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "op": [best_op],
                "lsn": [best_lsn],
                "new_row": [best_row],
            }
        )

    return _dml_by_key(events_stream).groupBy("key").applyInPandasWithState(
        update_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def console_sink(events_stream: DataFrame, truncate: bool = False):
    """Debug/monitoring sink (X4): the reference ships ``bwtest``, a
    binary that prints every event as JSON to stdout
    (/root/reference/client/bwtest.c:96-270); Spark's console sink is
    the same tool."""
    return (
        events_stream.writeStream.format("console")
        .option("truncate", str(truncate).lower())
        .outputMode("append")
        .start()
    )


def tws_available() -> bool:
    """``transformWithStateInPandas`` needs the protobuf wire between
    the JVM and the long-lived Python state server; absent protobuf
    (not in this image), the runner crashes at query start."""
    try:  # pragma: no cover - environment probe
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stateful_latest_by_key_tws(events_stream: DataFrame):
    """Latest-by-key on the Spark 4 ``transformWithStateInPandas`` API
    (StatefulProcessor + typed ValueState) — the modern successor to
    :func:`stateful_latest_by_key`'s ``applyInPandasWithState``: state
    variables are named and typed, TTL/timers/state-schema-evolution
    come from the runtime instead of hand-rolled tuple packing, and
    the same processor can later grow ListState/MapState without a
    state rewrite. Semantics are identical (max-lsn wins; replays and
    late events lose): where the environment provides protobuf, the
    gated test pins it to the same batch-compaction result as the
    ``applyInPandasWithState`` twin.

    Raises :class:`NotImplementedError` when the runtime cannot host
    the operator (mirrors the gated Kafka/Avro paths — the plumbing is
    real, the missing piece is an environment dependency).
    """
    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas requires google.protobuf, which "
            "is not installed in this image; use stateful_latest_by_key "
            "(applyInPandasWithState) instead"
        )
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("new_row", T.StringType()),
        ]
    )

    class LatestByKey(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._latest = handle.getValueState(
                "latest", "lsn long, op string, new_row string"
            )

        def handleInputRows(self, key, rows, timerValues):
            cur = self._latest.get() if self._latest.exists() else None
            best_lsn = cur[0] if cur is not None else None
            best_op = cur[1] if cur is not None else None
            best_row = cur[2] if cur is not None else None
            for pdf in rows:
                if pdf.empty:
                    continue
                r = pdf.loc[pdf["lsn"].idxmax()]
                if best_lsn is None or int(r["lsn"]) > best_lsn:
                    best_lsn = int(r["lsn"])
                    best_op = r["op"]
                    best_row = r["new_row"]
            self._latest.update((best_lsn, best_op, best_row))
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "op": [best_op],
                    "lsn": [best_lsn],
                    "new_row": [best_row],
                }
            )

        def close(self) -> None:
            pass

    return _dml_by_key(events_stream).groupBy("key").transformWithStateInPandas(
        statefulProcessor=LatestByKey(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


#: reserved run key for compacted base snapshots — can never collide
#: with a real run key (those are 12-char md5 hex, _run_key_of) and is
#: always "another run" to the probe filter, i.e. earlier-seen by
#: construction, exactly what a snapshot of closed epochs is
BASE_RUN_KEY = "__base__"
#: delta-run namespace for tiered (minor) folds — like the base key,
#: never a real run key (md5 hex with a ``k`` prefix), so `_prior`
#: always probes it
L1_RUN_KEY = "__l1__"


def _bucket_run_key(b: int) -> str:
    """Run key of base BUCKET ``b`` (bucketed rotation mode): like
    ``__base__``/``__l1__``, never a real run key, so `_prior` always
    probes every bucket."""
    return f"__base{b}__"


def _is_tier_run(run: str) -> bool:
    """True for any fold-output namespace: the one-tier base, L1 delta
    runs, and base buckets — the runs cleanups must treat as tiers
    (delete by epoch watermark), never as foreign live runs (delete
    wholesale)."""
    return run == L1_RUN_KEY or (
        run.startswith("__base") and run.endswith("__")
    )


def _sweep_rmtree(path: str) -> None:
    """Best-effort delete for CLEANUP sweeps only — paths whose
    content the just-committed fold/rotation/state already subsumes,
    re-swept by the next fold. Two object-store behaviors make a
    strict delete wrong here: a listing taken shortly after a delete
    can still show the entry (eventual listing consistency — the
    sweep would then crash-loop on a ghost), and a recursive delete
    can fail partway (one DeleteObjects page at a time). Neither may
    fail a batch whose commit is already durable; both are pinned by
    tests/test_objectstore_shim.py. NOT for deletes correctness
    depends on (e.g. dropping a torn tier before a fold reads the
    root) — those must surface and retry with the batch."""
    try:
        fsio.rmtree(path)
    except FileNotFoundError:
        pass  # ghost listing entry: already deleted — goal achieved
    except OSError:
        pass  # partial delete: superseded orphan; next sweep retries


def _sweep_rmdir(path: str) -> None:
    """Best-effort empty-dir removal for cleanup sweeps (ghost
    entries can make an emptiness check lie either way)."""
    try:
        fsio.rmdir(path)
    except OSError:
        pass


class _SlicedDedupIndexBase:
    """Shared machinery for the continuous ingest-time dedup indexes
    (text :class:`StreamingDedupIndex`, embedding
    :class:`StreamingVectorDedupIndex`): per-epoch OVERWRITE slices
    keyed by (run, epoch) under each slice root, the replay-exclusion
    probe filter, restart content-checks, and legacy run-key fold-in
    on start(). The replay predicate and the write ordering live HERE,
    once — a correctness fix to either reaches both indexes.

    Slice compaction (:meth:`compact`): a long-running stream at one
    batch/s accumulates ~600k ``(run, epoch)`` directories a week —
    the probe's file listing would grow O(#epochs) forever. Closed
    epochs therefore fold into a BASE SNAPSHOT, written as one more
    partition under the same root (``run=__base__/epoch=W`` = the
    distinct union of every slice strictly below W of the own run plus
    every foreign run), after which the folded source directories are
    deleted. The probe filter needs no change: the base run key never
    equals a real run key, so `_prior` always includes it — correct,
    because everything in it is < W <= any epoch that can still
    replay. This mirrors the reference's Kafka log compaction of
    closed segments (README.md:283-297) the same way
    StatefulMaterializer's write-then-swap mirrors it for CDC state.

    Crash-safety is write-new-base-THEN-delete-sources: a crash
    between the two leaves duplicate rows visible (old base + new
    base + folded slices), which every probe tolerates — match
    probes dedupe ids, Jaccard counts distinct shingles, quota counts
    distinct accepted docs — and the next compact() call finishes the
    interrupted cleanup (it is recomputable from the base epoch
    alone). Monotonicity: a base at epoch W is never rewritten below
    W.

    Tiered folds (``l1_max``, LSM / Kafka-segment discipline): the
    one-tier fold above rewrites the FULL base every ``fold_every``
    epochs — O(state) per fold, a full-state write per fold once the
    standing index dwarfs the deltas. With ``l1_max`` set, a fold is
    instead a MINOR fold: only the closed live epochs since the last
    fold (never the base, never prior L1 runs) fold into one
    ``run=__l1__/epoch=W`` delta run — O(delta), independent of
    standing-state size. When more than ``l1_max`` L1 runs
    accumulate, ONE major fold merges base + L1 runs into a new base
    — O(state), but amortized over ``l1_max`` folds, so per-fold
    write amplification is O(delta + state/l1_max). Probes need no
    change: ``__l1__`` never equals a real run key, so `_prior`
    always includes L1 slices, and everything in them is below the
    fold watermark, hence below any epoch that can still replay.
    Cross-tier duplicate rows (a doc re-delivered across fold
    boundaries sits in several tiers until the next major fold) are
    tolerated by the same probe-side distinct discipline as the
    crash window above. Crash-safety per tier: write-then-delete
    with completed-write detection via the parquet ``_SUCCESS``
    marker — a replayed fold whose L1/base slice already committed
    only finishes the interrupted cleanup, never rewrites from
    now-partial sources. The reference analog is exactly Kafka's
    incremental segment compaction (README.md:283-297): clean
    segments are not rewritten when a new dirty segment folds.

    Bucketed rotation (``base_buckets=P``, r13): the tiered major is
    still a monolithic O(state) rewrite — a declared pause that grows
    with the standing index forever. With ``base_buckets`` the base
    splits into P hash buckets (``run=__base<b>__``, hashed on the
    slice's doc-identity column) and the major becomes a ROTATION of
    ONE bucket per fold: max single-fold write is O(state/P + L1),
    bounded regardless of total index size (see
    :meth:`_rotate_bucket` for the L1-retention and replay
    arguments). Probes need no change — bucket runs are never real
    run keys, so `_prior` includes them all.

    Idempotence under replay: probes exclude identity matches, so a
    re-delivered batch matches only its previous content under the
    SAME ids and is accepted identically; state writes are per-epoch
    OVERWRITE directories, so a replayed batch rewrites its own slice
    instead of appending duplicate index rows — effective exactly-once
    without coordination, like the materializer's lsn-max merge.

    Equality with the batch min-id-witness rule requires batches to
    arrive in nondecreasing id order (true for an append-only ingest
    where ids are assigned at arrival); under arbitrary id order the
    streaming rule degrades to earlier-seen-wins.

    Subclasses define the id/payload columns, the intra-batch
    rejector, the index probe, and any EXTRA per-epoch slices."""

    ID_COL = "doc_id"
    PAYLOAD_COLS: tuple = ("doc_id", "text")
    EXTRA_SLICES: tuple = ()
    #: slice name -> data columns to PARTITION each slice write by
    #: (beyond the run/epoch dirs) — the layout must be uniform across
    #: live slices and the base snapshot or partition discovery fails,
    #: so it is declared per class, not decided per write
    SLICE_PARTITION_COLS: dict = {}

    def __init__(self, spark: SparkSession, state_dir: str,
                 threshold: float, fold_every: int | None = None,
                 l1_max: int | None = None,
                 base_buckets: int | None = None):
        if base_buckets is not None and l1_max is None:
            raise ValueError(
                "base_buckets requires tiered folds (set l1_max)"
            )
        self.spark = spark
        self.state_dir = state_dir
        self.threshold = threshold
        #: None = monolithic base (majors rewrite the WHOLE base, an
        #: O(state) pause once per l1_max minors); an int P = the base
        #: is split into P hash buckets (``run=__base<b>__``) and a
        #: "major" ROTATES one bucket per fold — max single-fold write
        #: drops to O(state/P + L1) no matter how large the standing
        #: index grows (the Kafka incremental-segment-compaction
        #: shape). Choose l1_max >= P for periodic rotation bursts or
        #: < P for continuous background rotation.
        self.base_buckets = base_buckets
        #: every N epochs, fold epochs < current into the base snapshot
        #: (None = only explicit compact() calls). Safe inside the
        #: batch loop because foreachBatch starts epoch e only after
        #: e-1 committed, so e is the only epoch that can still replay
        #: — and the fold watermark excludes it.
        self.fold_every = fold_every
        #: None = one-tier folds (every fold rewrites the full base);
        #: an int = tiered folds (minor O(delta) folds into
        #: ``run=__l1__`` delta runs, one major O(state) fold per
        #: ``l1_max`` minors) — see the class docstring
        self.l1_max = l1_max
        self._run_key = "adhoc"  # start() re-keys from the checkpoint
        fsio.makedirs(state_dir)
        # Restart-safe: a restarted process (checkpointLocation exists,
        # state_dir populated by the previous incarnation) must probe
        # the standing index from its FIRST batch, or every previously
        # indexed doc's near-dup would be re-accepted. Parquet state is
        # only real if a completed task file landed, hence the content
        # check rather than bare isdir (an empty dir from a crashed
        # first batch must not count). The gate covers EVERY root the
        # probe reads — 'index' plus all EXTRA_SLICES — because a crash
        # between the epoch-0 writes can leave some roots populated and
        # others absent; a probe gated on 'index' alone would then read
        # a nonexistent parquet path on every replay and crash-loop.
        self._have_index = all(
            self._state_exists(n) for n in ("index",) + self.EXTRA_SLICES
        )
        self._have_accepted = self._state_exists("accepted")
        self._bucket_meta_gate()

    def _bucket_meta_gate(self) -> None:
        """Persist ``base_buckets`` with the state and refuse to open
        standing bucketed state under a different P — the same
        discipline as the band-family/threshold gates. The hazard is
        concrete: bucket runs are partitioned by ``pmod(xxhash64, P)``
        at WRITE time, and the L1-cleanup floor is the min over the
        CURRENT P's bucket epochs — opening old-P state under a new P
        would let the floor pass (and delete) an L1 epoch whose rows
        were only ever folded into old-P buckets the new floor never
        consults: durable row loss from the index.

        Legacy standing state with no record (pre-r14) is adopted only
        if NO bucket run directory exists — then no rotation ever ran,
        every bucket epoch is -1 under any P, and the floor stays
        disabled until rotations under the declared P begin; if bucket
        runs DO exist their P is unrecorded and unknowable from
        layout, so the open is refused with the rebuild path."""
        meta_path = os.path.join(self.state_dir, "bucket_meta.json")
        meta = fsio.read_json_meta(meta_path)
        if meta is not None:
            stored = meta.get("base_buckets")
            if stored != self.base_buckets:
                raise ValueError(
                    f"standing state at {self.state_dir!r} was built "
                    f"with base_buckets={stored!r} but this index "
                    f"declares base_buckets={self.base_buckets!r}; "
                    "bucket runs are hash-partitioned at write time, "
                    "so a different P silently mis-scopes the L1 "
                    "cleanup floor — reopen with the stored P, or "
                    "point at a fresh state_dir and replay the stream"
                )
            return
        if (self._have_index or self._have_accepted) and \
                self._existing_bucket_runs():
            raise ValueError(
                f"standing state at {self.state_dir!r} has rotated "
                "base-bucket runs but no bucket_meta.json (pre-gate "
                "layout) — the P they were hashed under is not "
                "recoverable from the layout; rebuild from a fresh "
                "state_dir (and replay the stream)"
            )
        fsio.write_json_meta(meta_path, {"base_buckets": self.base_buckets})

    def _existing_bucket_runs(self) -> bool:
        """Any ``run=__base<b>__`` directory across the slice roots —
        evidence a bucketed rotation has run over this state."""
        import re

        pat = re.compile(r"^run=__base\d+__$")
        for name in ("accepted", "index") + self.EXTRA_SLICES:
            root = self._path(name)
            if not fsio.isdir(root):
                continue
            if any(pat.match(d) for d in fsio.listdir(root)):
                return True
        return False

    # -- slice io -----------------------------------------------------
    def _state_exists(self, name: str) -> bool:
        p = self._path(name)
        return fsio.isdir(p) and any(
            f.endswith(".parquet") or f.startswith(("epoch=", "run="))
            for f in fsio.listdir(p)
        )

    def _path(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def _read_slices(self, name: str) -> DataFrame:
        """A slice root WITH its (run, epoch) partition columns — the
        probe path needs them to exclude a replayed batch's own
        previously-written slice."""
        return self.spark.read.option(
            "basePath", self._path(name)
        ).parquet(self._path(name))

    def _index_slices(self) -> DataFrame | None:
        if not self._have_index:
            return None
        return self._read_slices("index")

    def _prior(self, sliced: DataFrame, epoch_id: int) -> DataFrame:
        """Probe only slices that were PRIOR to this epoch the first
        time it ran: within the own run, epochs strictly below
        epoch_id (a replayed epoch wrote its own slice before the
        crash — probing it would reject a row whose intra-batch
        near-dup mate sits there, since the identity exclusion only
        covers exact self-matches; and epochs AFTER it hold rows that
        were not yet indexed on the original pass, whose higher-id
        near-dups would likewise flip an accept to a reject); slices
        of OTHER runs (previous incarnations over different
        checkpoints) are all earlier-seen by construction. Without
        this, the per-epoch overwrite durably drops rows the original
        run accepted, breaking the 'accepted identically' replay
        contract. The filter is on PARTITION COLUMNS, so excluded
        directories are pruned at file-listing time — the
        replay-correctness fix costs zero scan."""
        return sliced.filter(
            (F.col("run") != self._run_key)
            | (F.col("epoch") < F.lit(epoch_id))
        )

    def _write_slice(self, df: DataFrame, name: str,
                     epoch_id: int, run: str | None = None) -> None:
        # per-epoch OVERWRITE: a replayed batch rewrites its own slice,
        # never appending duplicate rows into the standing state
        writer = df.write.mode("overwrite")
        pcols = self.SLICE_PARTITION_COLS.get(name)
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(
            os.path.join(
                self._path(name),
                f"run={run or self._run_key}", f"epoch={epoch_id}",
            )
        )

    # -- compaction -----------------------------------------------------
    def _complete_epochs(self, name: str, run: str) -> list[int]:
        """Epoch ids under ``run=<run>`` whose parquet write COMMITTED
        (the ``_SUCCESS`` job-commit marker is present). Fold-target
        detection must not count a crashed partial write: skipping a
        rewrite because a half-written slice 'exists' would lose the
        rows whose source dirs were already deleted."""
        d = os.path.join(self._path(name), f"run={run}")
        if not fsio.isdir(d):
            return []
        return [
            int(c[len("epoch="):])
            for c in fsio.listdir(d)
            if c.startswith("epoch=")
            and fsio.exists(os.path.join(d, c, "_SUCCESS"))
        ]

    def _base_epoch(self, name: str) -> int | None:
        eps = self._complete_epochs(name, BASE_RUN_KEY)
        return max(eps) if eps else None

    def _drop_partial_tiers(self, name: str) -> None:
        """Delete tier epoch dirs whose write never COMMITTED (no
        ``_SUCCESS``). A fold crashed mid-write can leave a partial
        ``run=__base__/epoch=W`` (or ``__l1__``) dir at the very
        watermark the replayed fold is about to overwrite; reading the
        slice root would enumerate that dir's part files, and the
        overwrite deletes them mid-job — FileNotFoundException on the
        first replay attempt. Partial tiers are never counted by
        `_complete_epochs` and carry no rows any probe needs (their
        sources are still on disk — cleanup runs only after commit),
        so dropping them before the fold's read is pure."""
        root = self._path(name)
        for rd in fsio.listdir(root):
            if not rd.startswith("run=") or not _is_tier_run(
                rd[len("run="):]
            ):
                continue
            d = os.path.join(root, rd)
            for c in fsio.listdir(d):
                if c.startswith("epoch=") and not fsio.exists(
                    os.path.join(d, c, "_SUCCESS")
                ):
                    # correctness-relevant delete (the fold reads the
                    # root next): a ghost listing entry is fine — the
                    # dir is already gone — but a REAL failed delete
                    # must surface and retry with the batch, or the
                    # fold would read torn files
                    try:
                        fsio.rmtree(os.path.join(d, c))
                    except FileNotFoundError:
                        pass

    def _cleanup_folded(self, name: str, up_to_epoch: int) -> None:
        """Delete every source directory the base at ``up_to_epoch``
        subsumes: own-run and older-base epochs strictly below it, L1
        delta runs at-or-below it (a major fold at W includes the L1
        slice the same watermark's minor fold just wrote, hence
        ``<=``), and foreign runs wholesale. Recomputable from the
        base epoch alone, so an interrupted fold's cleanup can simply
        re-run."""
        root = self._path(name)
        for rd in fsio.listdir(root):
            if not rd.startswith("run="):
                continue
            run = rd[len("run="):]
            rpath = os.path.join(root, rd)
            if run == self._run_key or _is_tier_run(run):
                for ed in fsio.listdir(rpath):
                    if not ed.startswith("epoch="):
                        continue
                    e = int(ed[len("epoch="):])
                    if e < up_to_epoch or (
                        run == L1_RUN_KEY and e <= up_to_epoch
                    ):
                        _sweep_rmtree(os.path.join(rpath, ed))
                if not fsio.listdir(rpath):
                    _sweep_rmdir(rpath)
            else:
                _sweep_rmtree(rpath)

    def _cleanup_minor(self, name: str, up_to_epoch: int) -> None:
        """Delete only what a MINOR fold at ``up_to_epoch`` subsumes:
        own-run epochs strictly below it and foreign live runs —
        never the base, never L1 delta runs (they are this fold's
        output and its older siblings, not its sources)."""
        root = self._path(name)
        for rd in fsio.listdir(root):
            if not rd.startswith("run="):
                continue
            run = rd[len("run="):]
            rpath = os.path.join(root, rd)
            if _is_tier_run(run):
                continue
            if run == self._run_key:
                for ed in fsio.listdir(rpath):
                    if (
                        ed.startswith("epoch=")
                        and int(ed[len("epoch="):]) < up_to_epoch
                    ):
                        _sweep_rmtree(os.path.join(rpath, ed))
                if not fsio.listdir(rpath):
                    _sweep_rmdir(rpath)
            else:
                _sweep_rmtree(rpath)

    def compact(self, up_to_epoch: int) -> None:
        """Fold every CLOSED slice — own-run epochs strictly below
        ``up_to_epoch``, all foreign runs, and any older base — into
        the standing snapshot(s), then delete the folded sources.
        Bounds the directory count (and the probe's file listing) by
        epochs-since-last-fold instead of stream lifetime. One-tier
        (``l1_max=None``): everything folds into one base snapshot,
        O(state) per fold. Tiered: a minor O(delta) fold into
        ``run=__l1__``, plus one major base merge per ``l1_max``
        minors (class docstring).

        Caller contract: no epoch below ``up_to_epoch`` may ever
        replay (inside the batch loop, the current epoch_id satisfies
        this — foreachBatch starts e only after e-1 committed), and
        ONE incarnation writes a state dir at a time (already the
        per-epoch-overwrite design's assumption). Folding a replayable
        epoch would let a replay probe its own rows beyond the
        identity exclusion — the exact hazard `_prior` exists to
        prevent.

        The fold dedupes: a doc re-delivered under a fresh epoch holds
        identical rows in several slices; the base keeps one. Probes
        are insensitive to the duplicates either way, so fold timing
        never changes an accept/reject decision."""
        for name in ("accepted", "index") + self.EXTRA_SLICES:
            if not self._state_exists(name):
                continue
            base_e = self._base_epoch(name)
            if base_e is not None and base_e >= up_to_epoch:
                # already folded this far; finish any interrupted
                # cleanup and leave the newer base alone
                self._cleanup_folded(name, base_e)
                continue
            if self.l1_max is None:
                self._fold_full(name, up_to_epoch)
            else:
                self._fold_tiered(name, up_to_epoch)

    def _fold_full(self, name: str, up_to_epoch: int) -> None:
        self._drop_partial_tiers(name)
        live = (F.col("run") == F.lit(self._run_key)) & (
            F.col("epoch") >= F.lit(up_to_epoch)
        )
        closed = (
            self._read_slices(name)
            .filter(~live)
            .drop("run", "epoch")
            .distinct()
        )
        if closed.isEmpty():
            return
        # write-new-base THEN delete-sources (see class docstring
        # for the crash window's duplicate-visibility argument)
        self._write_slice(closed, name, up_to_epoch, run=BASE_RUN_KEY)
        self._cleanup_folded(name, up_to_epoch)

    def _fold_tiered(self, name: str, up_to_epoch: int) -> None:
        """Minor fold (O(delta)) + occasional major fold (O(state),
        amortized 1/l1_max). The minor fold's input deliberately
        EXCLUDES the base and prior L1 runs — that exclusion is what
        makes the per-fold write independent of standing-state
        size."""
        self._drop_partial_tiers(name)
        is_tier = (F.col("run") == L1_RUN_KEY) | (
            F.col("run").startswith("__base")
            & F.col("run").endswith("__")
        )
        l1_eps = self._complete_epochs(name, L1_RUN_KEY)
        if up_to_epoch not in l1_eps:
            live = (F.col("run") == F.lit(self._run_key)) & (
                F.col("epoch") >= F.lit(up_to_epoch)
            )
            delta = (
                self._read_slices(name)
                .filter(~is_tier & ~live)
                .drop("run", "epoch")
                .distinct()
            )
            if not delta.isEmpty():
                self._write_slice(
                    delta, name, up_to_epoch, run=L1_RUN_KEY
                )
                l1_eps.append(up_to_epoch)
        # a replayed/interrupted fold whose L1 slice already committed
        # lands here directly: finish the cleanup, never rewrite the
        # delta from now-deleted sources
        self._cleanup_minor(name, up_to_epoch)
        if len(l1_eps) <= self.l1_max:
            return
        if self.base_buckets is not None:
            self._rotate_bucket(name, up_to_epoch)
            return
        merged = (
            self._read_slices(name)
            .filter(is_tier)
            .filter(F.col("epoch") <= F.lit(up_to_epoch))
            .drop("run", "epoch")
            .distinct()
        )
        if merged.isEmpty():
            return
        self._write_slice(
            merged, name, up_to_epoch, run=BASE_RUN_KEY
        )
        self._cleanup_folded(name, up_to_epoch)

    def _bucket_epochs(self, name: str) -> dict[int, int]:
        """Per base bucket, the newest COMMITTED epoch (-1 = never
        rotated)."""
        out = {}
        for b in range(self.base_buckets):
            eps = self._complete_epochs(name, _bucket_run_key(b))
            out[b] = max(eps) if eps else -1
        return out

    def _rotate_bucket(self, name: str, up_to_epoch: int) -> None:
        """The bounded-pause "major": rotate ONE base bucket — merge
        that bucket's standing rows with the L1 rows that hash into it
        (epoch <= watermark) into a fresh ``run=__base<b>__/epoch=W``
        snapshot. Single-fold write is O(state/P + L1), independent of
        TOTAL standing-state size — the property the monolithic major
        lacks (its pause grows with the index forever; Kafka's segment
        compaction never rewrites the whole log either,
        README.md:283-297).

        Bucket choice is the oldest base epoch (ties to the lowest
        id): deterministic under replay, and over P rotations every
        bucket passes any given L1 epoch. An L1 run is deleted only
        once EVERY bucket's base epoch has reached it — until then its
        rows coexist with folded bucket copies, the same probe-side
        duplicate tolerance as every other fold crash window. Stale
        older epochs of ANY bucket (an interrupted rotation's cleanup)
        are re-swept here, recomputable from the committed epochs
        alone."""
        beps = self._bucket_epochs(name)
        b = min(beps, key=lambda k: (beps[k], k))
        bkey = _bucket_run_key(b)
        if beps[b] < up_to_epoch:
            sliced = self._read_slices(name)
            # the slice's doc-identity column (extra slices carry the
            # probe-side alias ``sid``); any consistent per-row key
            # works — hashing must only be stable across tiers
            bucket_col = (
                self.ID_COL if self.ID_COL in sliced.columns else "sid"
            )
            in_bucket = (
                F.pmod(F.xxhash64(F.col(bucket_col)),
                       F.lit(self.base_buckets)) == F.lit(b)
            )
            merged = (
                sliced.filter(
                    (F.col("run") == bkey)
                    | (
                        (F.col("run") == L1_RUN_KEY)
                        & (F.col("epoch") <= F.lit(up_to_epoch))
                        & in_bucket
                    )
                )
                .drop("run", "epoch")
                .distinct()
            )
            # ALWAYS write (even an empty bucket): the L1 cleanup
            # floor is min over bucket epochs, so a skipped empty
            # bucket would pin every L1 run forever
            self._write_slice(merged, name, up_to_epoch, run=bkey)
            beps[b] = up_to_epoch
        # cleanup, all recomputable: superseded epochs of every bucket,
        # then L1 runs every bucket has passed
        root = self._path(name)
        for bb, top in beps.items():
            d = os.path.join(root, f"run={_bucket_run_key(bb)}")
            if top < 0 or not fsio.isdir(d):
                continue
            for ed in fsio.listdir(d):
                if ed.startswith("epoch=") and int(ed[len("epoch="):]) < top:
                    _sweep_rmtree(os.path.join(d, ed))
        l1_floor = min(beps.values())
        if l1_floor >= 0:
            d = os.path.join(root, f"run={L1_RUN_KEY}")
            if fsio.isdir(d):
                for ed in fsio.listdir(d):
                    if (
                        ed.startswith("epoch=")
                        and int(ed[len("epoch="):]) <= l1_floor
                    ):
                        _sweep_rmtree(os.path.join(d, ed))
                if not fsio.listdir(d):
                    _sweep_rmdir(d)

    def slice_dir_count(self) -> int:
        """Total (run, epoch) slice directories across all roots —
        the quantity compaction bounds; exposed for soak evidence."""
        n = 0
        for name in ("accepted", "index") + self.EXTRA_SLICES:
            root = self._path(name)
            if not fsio.isdir(root):
                continue
            for rd in fsio.listdir(root):
                rpath = os.path.join(root, rd)
                if rd.startswith("run=") and fsio.isdir(rpath):
                    n += sum(
                        1 for ed in fsio.listdir(rpath)
                        if ed.startswith("epoch=")
                    )
        return n

    def accepted_ids(self) -> DataFrame | None:
        if not self._have_accepted:
            return None
        return (
            self._read_slices("accepted").select(self.ID_COL).distinct()
        )

    # -- subclass hooks -----------------------------------------------
    def _intra_rejects(self, batch: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _probe_index(self, batch: DataFrame,
                     epoch_id: int) -> DataFrame:
        raise NotImplementedError

    def _write_extra_slices(self, batch: DataFrame,
                            epoch_id: int) -> None:
        pass

    # -- the loop -----------------------------------------------------
    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        batch = batch.select(*self.PAYLOAD_COLS)
        rejected_vs_index = (
            self._probe_index(batch, epoch_id)
            if self._have_index
            else None
        )
        intra = self._intra_rejects(batch)
        rejected = (
            intra
            if rejected_vs_index is None
            else intra.unionByName(rejected_vs_index).distinct()
        )
        accepted = batch.join(rejected, self.ID_COL, "left_anti").select(
            self.ID_COL
        )
        self._write_slice(accepted, "accepted", epoch_id)
        # EXTRA slices land BEFORE 'index': together with the __init__
        # gate over all roots, index existence then implies every probe
        # input exists, whichever write a crash lands between.
        self._write_extra_slices(batch, epoch_id)
        self._write_slice(batch, "index", epoch_id)
        self._have_index = True
        self._have_accepted = True
        if (
            self.fold_every
            and epoch_id > 0
            and epoch_id % self.fold_every == 0
        ):
            # watermark = CURRENT epoch: its own just-written slices
            # stay live, so a crash-replay of this epoch re-decides
            # identically; everything below it is committed and folds
            self.compact(epoch_id)
        from bottledwater_pg_spark.session import release_persisted

        release_persisted()

    def start(self, rows_stream: DataFrame, checkpoint_dir: str):
        _fold_legacy_run_slices(
            tuple(
                self._path(n)
                for n in ("accepted", "index") + self.EXTRA_SLICES
            ),
            checkpoint_dir,
        )
        self._run_key = _run_key_of(checkpoint_dir)
        return (
            rows_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .start()
        )


class StreamingDedupIndex(_SlicedDedupIndexBase):
    """Continuous ingest-time near-dup rejection: the streaming twin of
    ``operators/dedup.incremental_lsh_matches``. State on disk is the
    corpus of SEEN documents; each micro-batch probes the standing
    index for matches, rejects every doc with an earlier-seen (or
    earlier-in-batch, lower-id) near-duplicate, appends the WHOLE
    batch to the index (rejected docs still serve as witnesses — this
    is what makes the streaming result equal the batch min-id-witness
    rule, the same keep-lowest-id discipline as SemDeDup), and appends
    the survivors to the accepted list. Slice/replay/restart semantics
    are the base class's.

    Scale: each epoch ALSO writes the batch's banded MinHash
    signatures (``bands`` slices, the probe's join key) and shingle
    table (``sh`` slices, the exact-Jaccard verify operands) — both
    pure functions of the text, computed ONCE at indexing time, the
    exact layout the vector twin already uses (sig/qv). A probe
    therefore does no per-call work over the corpus: it broadcasts
    the batch's bands against the stored band table and reads stored
    shingles only for candidate docs (semi-join-pruned; size aggs are
    candidate-pruned too). Cost per batch is O(batch), not O(corpus)
    — the property that makes always-on dedup feasible. Raw
    (doc_id, text) still lands in the ``index`` slices (the base
    contract's restart content-check root + the index_docs() API);
    at warehouse scale that root is cold storage the probe never
    reads.

    Persisted-state contract: stored signatures fix the MinHash
    family (hash fn, num_hashes x bands, shingle n) — meta.json
    records it and a mismatched restart refuses rather than probing
    guaranteed-disjoint band keys (the quota/Bloom/semdedup gate; a
    rebuild would be derivable from the stored index text, so the
    error says how).
    """

    ID_COL = "doc_id"
    PAYLOAD_COLS = ("doc_id", "text")
    EXTRA_SLICES = ("bands", "sh")

    NUM_HASHES = 32
    BANDS = 16
    SHINGLE_N = 3
    #: bump when the signature recipe changes — standing band/shingle
    #: slices from another family must not be probed
    BAND_FAMILY = "minhash/xxhash64-prime/32x16/ngram3"

    def __init__(self, spark: SparkSession, state_dir: str,
                 threshold: float = 0.8,
                 fold_every: int | None = None,
                 l1_max: int | None = None,
                 base_buckets: int | None = None,
                 probe_bucket_cap: int | None = None):
        """``probe_bucket_cap``: hot-bucket probe escape hatch — each
        colliding band bucket exposes only its cap lowest-sid stored
        members to the probe (dedup.incremental_lsh_matches), bounding
        the per-batch candidate blow-up a standing boilerplate cohort
        causes at O(cap x batch) instead of O(cohort x batch).
        Decision-exact when hot buckets are mutual-similarity cohorts
        (the earliest member verifies iff any does); a probe-time
        knob, not a state-layout property — stored slices are
        identical with or without it, so it needs no meta gate and
        can be turned on over standing state."""
        super().__init__(spark, state_dir, threshold, fold_every,
                         l1_max=l1_max, base_buckets=base_buckets)
        self.probe_bucket_cap = probe_bucket_cap
        meta_path = os.path.join(state_dir, "meta.json")
        meta = fsio.read_json_meta(meta_path)
        if meta is not None:
            if meta.get("band_family") != self.BAND_FAMILY:
                raise LookupError(
                    f"standing dedup state was indexed under "
                    f"{meta.get('band_family')!r} but this index "
                    f"probes {self.BAND_FAMILY!r}; stored signatures "
                    f"are guaranteed-disjoint — delete the bands/ and "
                    f"sh/ slice roots (rebuildable from the stored "
                    f"index text) or restore the original recipe"
                )
        elif self._have_index or self._have_accepted:
            raise LookupError(
                "standing dedup state has no meta.json (pre-contract "
                "incarnation): the signature family it was indexed "
                "under is unknown — start a fresh state_dir"
            )
        else:
            fsio.write_json_meta(
                meta_path, {"band_family": self.BAND_FAMILY}
            )

    def index_docs(self) -> DataFrame | None:
        full = self._index_slices()
        return None if full is None else full.select("doc_id", "text")

    def _shingles(self, batch: DataFrame) -> DataFrame:
        from bottledwater_pg_spark.operators.dedup import shingle_table

        return shingle_table(batch, "doc_id", "text", self.SHINGLE_N)

    def _intra_rejects(self, batch: DataFrame) -> DataFrame:
        from bottledwater_pg_spark.operators import dedup

        return (
            dedup.minhash_lsh_pairs(
                batch, num_hashes=self.NUM_HASHES, bands=self.BANDS,
                threshold=self.threshold,
            )
            .select(F.col("b_id").alias("doc_id"))
            .distinct()
        )

    def _probe_index(self, batch: DataFrame,
                     epoch_id: int) -> DataFrame:
        from bottledwater_pg_spark.operators import dedup

        prior_bands = self._prior(
            self._read_slices("bands"), epoch_id
        ).select("sid", "band", "bsig")
        prior_sh = self._prior(self._read_slices("sh"), epoch_id).select(
            "sid", "shingle"
        )
        return (
            dedup.incremental_lsh_matches(
                None, batch, num_hashes=self.NUM_HASHES,
                bands=self.BANDS, threshold=self.threshold,
                n=self.SHINGLE_N,
                index_banded=prior_bands, index_shingles=prior_sh,
                probe_bucket_cap=self.probe_bucket_cap,
            )
            .filter(F.col("match_id") != F.col("new_id"))
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
        )

    def _write_extra_slices(self, batch: DataFrame,
                            epoch_id: int) -> None:
        from bottledwater_pg_spark.operators.dedup import (
            banded_minhash_from_shingles,
        )
        from bottledwater_pg_spark.session import persist_tracked

        sh = persist_tracked(self._shingles(batch))
        self._write_slice(
            banded_minhash_from_shingles(sh, self.NUM_HASHES, self.BANDS),
            "bands", epoch_id,
        )
        self._write_slice(sh, "sh", epoch_id)


class StreamingContainmentIndex(_SlicedDedupIndexBase):
    """Continuous ingest-time CONTAINMENT rejection: the streaming
    twin of ``operators/dedup.containment_prefix_pairs`` (Broder
    1997's asymmetric measure — the quote-expansion case the whole
    Jaccard family is structurally blind to). In a real crawl
    pipeline quote-expansion is an INGEST-TIME decision: the short
    original is already indexed when its wholesale-quoting container
    arrives, exactly the per-key-ordered-stream shape the reference's
    keyed partitioning exists to serve (kafka/bottledwater.c:784-808).
    Each micro-batch is probed against the standing corpus in BOTH
    roles (new doc quoted by a stored container, or new container
    quoting a stored original); a doc with an earlier-seen (or
    lower-id in-batch) containment partner is rejected; the whole
    batch still indexes (rejected docs remain witnesses — the
    min-id-witness discipline shared with StreamingDedupIndex).

    Scale: per epoch the batch's distinct-shingle table (``sh``) and
    its rarity-ranked blocking prefixes (``pfx``,
    dedup.containment_prefix — exact by pigeonhole regardless of when
    the ranking was computed, which is what makes a STORED prefix
    valid as the corpus grows) are persisted, so a probe re-shingles
    nothing: direction 1 broadcasts the batch's prefixes against the
    stored shingles, direction 2 broadcasts the batch's shingles
    against the stored prefixes, and the exact verify runs over
    candidate pairs with the index-side size agg semi-join-pruned —
    O(batch + collisions) per batch. Slice/replay/restart/fold
    semantics are the base class's (tiered folds included).

    Persisted-state contract: stored prefixes fix the shingle n AND
    the threshold (the prefix LENGTH is ``sz - ceil(t*sz) + 1`` —
    restarting with a higher threshold would probe prefixes that are
    too short to be exact for it); meta.json records both and a
    mismatched restart refuses (the band-family gate's discipline),
    with the rebuild path stated in the error."""

    ID_COL = "doc_id"
    PAYLOAD_COLS = ("doc_id", "text")
    EXTRA_SLICES = ("sh", "pfx")

    SHINGLE_N = 3
    #: bump when the shingle recipe / ranking rule changes
    CONTAIN_FAMILY = "containment/ngram3/df-ranked-prefix"

    def __init__(self, spark: SparkSession, state_dir: str,
                 threshold_bp: int = 8000,
                 fold_every: int | None = None,
                 l1_max: int | None = None,
                 base_buckets: int | None = None):
        super().__init__(spark, state_dir, threshold_bp / 10000.0,
                         fold_every, l1_max=l1_max,
                         base_buckets=base_buckets)
        self.threshold_bp = threshold_bp
        meta_path = os.path.join(state_dir, "meta.json")
        meta = fsio.read_json_meta(meta_path)
        if meta is not None:
            if (
                meta.get("family") != self.CONTAIN_FAMILY
                or int(meta.get("threshold_bp", -1)) != threshold_bp
            ):
                raise LookupError(
                    f"standing containment state was indexed as "
                    f"{meta!r} but this index probes family="
                    f"{self.CONTAIN_FAMILY!r} threshold_bp="
                    f"{threshold_bp}; stored prefixes are only exact "
                    f"for the threshold they were cut at — delete the "
                    f"pfx/ slice root (rebuildable from the stored sh "
                    f"slices) or restore the original parameters"
                )
        elif self._have_index or self._have_accepted:
            raise LookupError(
                "standing containment state has no meta.json "
                "(pre-contract incarnation): the threshold its "
                "prefixes were cut at is unknown — start a fresh "
                "state_dir"
            )
        else:
            fsio.write_json_meta(
                meta_path,
                {"family": self.CONTAIN_FAMILY,
                 "threshold_bp": threshold_bp},
            )

    def index_docs(self) -> DataFrame | None:
        full = self._index_slices()
        return None if full is None else full.select("doc_id", "text")

    def _intra_rejects(self, batch: DataFrame) -> DataFrame:
        from bottledwater_pg_spark.operators import dedup

        # min-id-witness within the batch: each emitted pair rejects
        # its higher id (the batch op emits every unordered pair once)
        return (
            dedup.containment_prefix_pairs(
                batch, self.threshold_bp, n=self.SHINGLE_N
            )
            .select(F.greatest("a_id", "b_id").alias("doc_id"))
            .distinct()
        )

    def _probe_index(self, batch: DataFrame,
                     epoch_id: int) -> DataFrame:
        from bottledwater_pg_spark.operators import dedup

        prior_sh = self._prior(self._read_slices("sh"), epoch_id).select(
            "sid", "shingle"
        )
        prior_pfx = self._prior(
            self._read_slices("pfx"), epoch_id
        ).select("sid", "shingle")
        return (
            dedup.incremental_containment_matches(
                None, batch, threshold_bp=self.threshold_bp,
                n=self.SHINGLE_N,
                index_shingles=prior_sh, index_prefix=prior_pfx,
            )
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
        )

    def _write_extra_slices(self, batch: DataFrame,
                            epoch_id: int) -> None:
        from bottledwater_pg_spark.operators.dedup import (
            containment_prefix,
            shingle_table,
        )
        from bottledwater_pg_spark.session import persist_tracked

        sh = persist_tracked(
            shingle_table(batch, "doc_id", "text", self.SHINGLE_N)
        )
        self._write_slice(sh, "sh", epoch_id)
        self._write_slice(
            containment_prefix(sh, self.threshold_bp), "pfx", epoch_id
        )


class MultiTableMaterializer:
    """One consumer, every topic: routes a single interleaved CDC
    envelope stream into per-table materialized states inside ONE
    foreachBatch — the deployment shape of a reference consumer
    subscribed to the whole topic set (bottledwater.c streams all
    exported tables through one replication slot; README.md:326-358's
    one-topic-per-table routing is re-derived here from relid).

    Each table keeps its own :class:`StreamingMaterializer` (own state
    dir, own idempotent lsn-max merge), so per-table semantics —
    tombstones, replay idempotence, schema — are exactly the
    single-table ones; this class only routes. A batch touching no
    rows of a table skips that table's state write entirely.

    Scale: the relid filter prunes each table's slice before any
    shuffle; tables materialize independently so hot tables don't
    stall cold ones; state stores shard by table then by key hash.
    """

    def __init__(self, spark: SparkSession, state_dir: str,
                 tables: dict[int, tuple[str, T.StructType]],
                 track_drift: bool = False, on_error: str = "exit"):
        """``track_drift=True`` gives every table its OWN drift-aware
        materializer (relid-scoped SchemaTracker + unkeyed retention),
        so the whole-database deployment evolves each table
        independently — the reference re-announces per-relid schemas
        in-band and consumers re-parse per table
        (protocol_client.c:313-350)."""
        self.tables = tables
        self.mats = {
            relid: StreamingMaterializer(
                spark, os.path.join(state_dir, name), schema,
                relid=relid if track_drift else None,
                on_error=on_error,
            )
            for relid, (name, schema) in tables.items()
        }

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        # ONE distinct-relid pass decides which tables this batch
        # touches (O(#tables) rows), replacing a per-registered-table
        # isEmpty() job — with 50+ tables of which a batch touches a
        # few, that scan-per-table was the dominant cost and made
        # per-table overhead linear in the REGISTERED count instead of
        # the TOUCHED count. The batch is persisted once so each
        # touched table's slice reads the same materialized input
        # instead of re-reading the source.
        cached = batch.persist()
        try:
            # the distinct-relid pass runs over the cached frame, so
            # this scan is also the one that populates the cache the
            # per-table slices then read
            present = {
                r[0]
                for r in cached.select("relid").distinct().collect()
            }
            touched = [r for r in self.mats if r in present]
            # per-table materializations run CONCURRENTLY (Spark jobs
            # are thread-safe; each table owns its state dir), so a
            # hot table delays the trigger by max(table cost), not
            # sum — the independence the reference's one-consumer-
            # every-topic deployment expects
            if len(touched) <= 1:
                for relid in touched:
                    self.mats[relid].process_batch(
                        cached.filter(F.col("relid") == relid), epoch_id
                    )
            else:
                from concurrent.futures import ThreadPoolExecutor

                def one(relid):
                    self.mats[relid].process_batch(
                        cached.filter(F.col("relid") == relid), epoch_id
                    )

                with ThreadPoolExecutor(
                    max_workers=min(8, len(touched))
                ) as pool:
                    for fut in [pool.submit(one, r) for r in touched]:
                        fut.result()  # surface the first failure
        finally:
            cached.unpersist()

    def current_rows(self, relid: int) -> DataFrame | None:
        return self.mats[relid].current_rows()

    def start(self, events_stream: DataFrame, checkpoint_dir: str):
        _fold_legacy_run_slices(
            tuple(
                os.path.join(mat.state_dir, "unkeyed")
                for mat in self.mats.values()
            ),
            checkpoint_dir,
        )
        key = _run_key_of(checkpoint_dir)
        for mat in self.mats.values():
            mat._run_key = key
        return (
            events_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .start()
        )


def gopher_gate(df: DataFrame, text_col: str = "text",
                min_words: int | None = None,
                max_words: int | None = None) -> DataFrame:
    """Ingest-time Gopher rule gate (Rae et al. 2021) — the streaming
    twin of ``llm_queries.gopher_quality_flags``'s pass rule: keep
    exactly the docs that fail none of the four rules. The rule
    kernel is the SHARED ``with_gopher_flags`` (word count bounds,
    integer cross-multiplied mean word length, distinct stopwords,
    type-token ratio), so the streamed survivor set equals the batch
    filter on the same corpus by construction — pinned in
    tests/test_streaming.py.

    Stateless: pure narrow expressions, no watermark, no shuffle, no
    state store — legal on a batch OR streaming DataFrame unchanged,
    and the right place in the pipeline is BEFORE the stateful
    dedup/quota indexes: a rule-failing doc dropped here never costs
    an index write, a probe, or standing-state bytes. At 100 TB this
    is the cheapest stage in the curation pipeline (one codegen'd
    projection per batch)."""
    from bottledwater_pg_spark.operators.llm_queries import (
        GOPHER_MAX_WORDS,
        GOPHER_MIN_WORDS,
        with_gopher_flags,
    )

    flagged = with_gopher_flags(
        df, text_col,
        min_words=GOPHER_MIN_WORDS if min_words is None else min_words,
        max_words=GOPHER_MAX_WORDS if max_words is None else max_words,
    )
    return flagged.filter(F.col("gopher_ok")).drop(
        "f_wc", "f_wl", "f_sw", "f_ttr", "gopher_ok"
    )


def c4_gate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Ingest-time C4 cleaning gate (Raffel et al. 2020 §2.2) — the
    streaming twin of ``llm_queries.c4_line_filter_stats``: split the
    page on newlines, keep only lines ending in terminal punctuation
    with >= 5 words, drop the page entirely if it contains '{' or
    'lorem ipsum' or keeps < 3 lines; survivors get ``text_col``
    REWRITTEN to the kept lines (this gate cleans, not just filters —
    exactly what C4 does to a crawled page). The verdict kernel is
    the SHARED ``with_c4_verdicts`` and the marker detection the
    SHARED case-sensitive ``c4_marker_exprs`` so the streamed
    survivor set equals the batch rule by construction — pinned in
    tests/test_streaming.py (a lowercased marker match here would
    drop mixed-case pages the batch rule keeps).

    Stateless like :func:`gopher_gate`: narrow expressions only, no
    shuffle, no state store — legal on batch or streaming frames
    unchanged, and belongs BEFORE the stateful dedup/quota indexes
    (a dropped page never costs an index write); the rewritten text
    also shrinks every downstream shingle/token stage."""
    from bottledwater_pg_spark.operators.llm_queries import (
        c4_marker_exprs,
        with_c4_verdicts,
    )

    has_brace, has_lorem = c4_marker_exprs(text_col)
    pre = df.withColumns({
        "lines": F.split(F.col(text_col), "\n"),
        "has_brace": has_brace,
        "has_lorem": has_lorem,
    })
    flagged = with_c4_verdicts(pre)
    return (
        flagged.filter(F.col("kept_doc") == 1)
        .withColumn(text_col, F.array_join("c4_kept_lines", "\n"))
        .drop(
            "lines", "has_brace", "has_lorem", "n_lines",
            "c4_kept_lines", "n_kept_lines", "kept_chars",
            "dropped_marker", "dropped_few_lines", "kept_doc",
        )
    )


class StreamingContaminationScreen:
    """Always-on ingest-time decontamination: the streaming twin of
    ``llm_queries.bloom_contamination_screen``. The eval-set Bloom
    bitmap is built ONCE (a standing ~1k-row table, persisted to the
    state dir so a restarted process reuses it without re-scanning the
    eval corpus); each micro-batch of training docs probes it with one
    broadcast join and appends per-doc flag counts to an audit log.
    Docs with zero flagged grams pass; flagged docs are quarantined
    for the exact verify — at 100 TB that verify join runs over the
    tiny flagged fraction only, which is the screen's entire point.

    Idempotence: the audit append is per-epoch overwrite (a replayed
    batch rewrites its own directory), like the drift materializer's
    unkeyed retention.
    """

    def __init__(self, spark: SparkSession, state_dir: str,
                 eval_docs: DataFrame | None = None,
                 text_col: str = "text", n: int = 8):
        from bottledwater_pg_spark.operators.llm_queries import (
            BLOOM_HASH_FAMILY,
            _bloom_positions,
        )
        from bottledwater_pg_spark.functions.text import word_shingles

        self.spark = spark
        self.state_dir = state_dir
        self.n = n
        self.text_col = text_col
        self._run_key = "adhoc"  # start() re-keys from the checkpoint
        fsio.makedirs(state_dir)
        bmp_path = os.path.join(state_dir, "bitmap")
        meta_path = os.path.join(state_dir, "meta.json")
        # a standing bitmap is only real if BOTH the parquet files and
        # the recorded build parameters landed — a crash between the
        # two writes must fall through to a rebuild, not a FileNotFound
        meta = fsio.read_json_meta(meta_path)
        have = (
            fsio.isdir(bmp_path)
            and any(f.endswith(".parquet") for f in fsio.listdir(bmp_path))
            and meta is not None
        )
        if have:
            # the standing bitmap fixes the gram size AND the hash
            # family: a restarted process probing with a different n
            # or a different (family, m, k) would silently miss
            # everything — take n from the recorded build parameters,
            # and treat a family mismatch as "no standing bitmap"
            # (rebuild when eval_docs is at hand, refuse otherwise:
            # probing is guaranteed-wrong, so failing loud beats a
            # screen that passes every contaminated doc).
            recorded_family = meta.get("hash_family")
            if recorded_family != BLOOM_HASH_FAMILY:
                if eval_docs is None:
                    raise LookupError(
                        f"standing bitmap was built under hash family "
                        f"{recorded_family!r} but the current family is "
                        f"{BLOOM_HASH_FAMILY!r}; pass eval_docs to "
                        f"rebuild it"
                    )
                have = False
            else:
                self.n = int(meta["n"])
                self.text_col = meta.get("text_col", text_col)
        if not have:
            if eval_docs is None:
                raise LookupError(
                    "no standing bitmap in state_dir and no eval_docs "
                    "given to build one"
                )
            grams = eval_docs.select(
                F.explode(word_shingles(text_col, n)).alias("gram")
            ).distinct()
            pos = grams.select(
                F.md5(F.encode(F.col("gram"), "UTF-8")).alias("_h")
            ).select(
                F.explode(
                    F.array(*_bloom_positions("gram", md5_col="_h"))
                ).alias("pos")
            )
            bitmap = pos.groupBy(
                (F.col("pos") / 63).cast("int").alias("word_idx")
            ).agg(
                F.bit_or(
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))"
                    )
                ).alias("word")
            )
            bitmap.write.mode("overwrite").parquet(bmp_path)
            fsio.write_json_meta(
                meta_path,
                {
                    "n": n,
                    "text_col": text_col,
                    "hash_family": BLOOM_HASH_FAMILY,
                },
            )
        self._bitmap = spark.read.parquet(bmp_path)

    def _audit_path(self) -> str:
        return os.path.join(self.state_dir, "audit")

    def audit(self) -> DataFrame | None:
        p = self._audit_path()
        if not fsio.isdir(p):
            return None
        return self.spark.read.option("basePath", p).parquet(p)

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from bottledwater_pg_spark.operators.llm_queries import (
            _bloom_flagged_grams,
        )
        from bottledwater_pg_spark.functions.text import word_shingles

        grams = batch.select(
            "doc_id",
            F.explode(word_shingles(self.text_col, self.n)).alias("gram"),
        )
        # same single-pass forall probe as the batch screen (the r14
        # microbench form): the SPARSE on-disk bitmap state is
        # densified into its one-row broadcast form per batch — a
        # single-row aggregation over the ~1k-row state parquet,
        # negligible next to the per-batch probe itself
        per_doc = (
            _bloom_flagged_grams(grams, self._bitmap)
            .groupBy("doc_id")
            .agg(F.count_distinct("gram").alias("n_flagged"))
        )
        out = batch.select("doc_id").join(per_doc, "doc_id", "left").select(
            "doc_id",
            F.coalesce("n_flagged", F.lit(0)).cast("long").alias("n_flagged"),
        )
        out.write.mode("overwrite").parquet(
            os.path.join(
                self._audit_path(),
                f"run={self._run_key}", f"epoch={epoch_id}",
            )
        )

    def start(self, docs_stream: DataFrame, checkpoint_dir: str):
        _fold_legacy_run_slices((self._audit_path(),), checkpoint_dir)
        self._run_key = _run_key_of(checkpoint_dir)
        return (
            docs_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .start()
        )


class StreamingLMScreen:
    """Always-on ingest-time LM quality screen: the streaming twin of
    the batch LM scorers (``lm_surprise_outliers`` /
    ``ccnet_perplexity_buckets``). CCNet (Wenzek et al. 2020) trains
    a KenLM on clean text ONCE and applies it DURING the crawl; here
    the add-one-smoothed bigram model — the (prev, cur)→count table,
    the per-prev context counts, and the vocabulary size — is trained
    once on a clean corpus, persisted to the state dir with its build
    parameters, and every micro-batch scores its docs against the
    STANDING model with the batch kernel's exact integer arithmetic
    (quantized inverse probabilities — bit-identical everywhere).

    Unseen-bigram semantics: the batch scorers inner-join the model
    because it is trained ON the corpus being scored, so every bigram
    exists; a standing screen scores NEW text, where unseen bigrams
    are precisely the signal — they smooth to the add-one ceiling
    (c2=0, and c1=0 for an unseen prev): ``((c1 + V) * 10000) div
    (c2 + 1)``. On in-model text the streamed score EQUALS the batch
    kernel's (pinned in tests). Docs with no scorable bigram pass
    with ``n_bigrams = 0`` (no perplexity evidence either way — the
    Gopher gate, not this screen, is the stage that drops
    non-language docs).

    State/audit: per-epoch OVERWRITE audit slices (doc_id, n_bigrams,
    mean_surprise_q, pass) — replay-idempotent like the Bloom
    screen's; ``accepted_ids()`` is the distinct pass set. The
    threshold is a PROBE knob (state-independent — scores are pure
    functions of model + text), so restarting with a tighter
    threshold legitimately re-screens future batches without
    touching standing audits.

    Scale: the model is vocabulary-sized, not corpus-sized; scoring
    is two left joins keyed (prev, cur) and (prev) — broadcast while
    the model is small, bucketed-by-prev at web scale — then one
    per-doc partial agg. No corpus state, no growth with stream
    lifetime.
    """

    #: bump when tokenizer / smoothing / quantization changes —
    #: a standing model from another family must not score
    LM_FAMILY = "bigram-addone/x10000-int/lower-alpha"

    def __init__(self, spark: SparkSession, state_dir: str,
                 train_corpus: DataFrame | None = None,
                 threshold_q: int = 10_000_000):
        self.spark = spark
        self.state_dir = state_dir
        self.threshold_q = threshold_q
        self._run_key = "adhoc"  # start() re-keys from the checkpoint
        fsio.makedirs(state_dir)
        model_path = os.path.join(state_dir, "model")
        ctx_path = os.path.join(state_dir, "ctx")
        meta_path = os.path.join(state_dir, "meta.json")
        meta = fsio.read_json_meta(meta_path)
        have = (
            all(
                fsio.isdir(p)
                and any(f.endswith(".parquet") for f in fsio.listdir(p))
                for p in (model_path, ctx_path)
            )
            and meta is not None
        )
        if have:
            if meta.get("family") != self.LM_FAMILY:
                if train_corpus is None:
                    raise LookupError(
                        f"standing LM was trained under "
                        f"{meta.get('family')!r} but this screen scores "
                        f"with {self.LM_FAMILY!r}; pass train_corpus to "
                        f"rebuild"
                    )
                have = False
            else:
                self._v = int(meta["v"])
        if not have:
            if train_corpus is None:
                raise LookupError(
                    "no standing LM in state_dir and no train_corpus "
                    "given to build one"
                )
            from bottledwater_pg_spark.operators.llm_queries import (
                _bigram_pairs,
                _bigram_tokens,
            )

            toks = _bigram_tokens(train_corpus.select("doc_id", "text"))
            bi = _bigram_pairs(toks)
            model = bi.groupBy("prev", "cur").agg(
                F.count("*").alias("c2")
            )
            model.write.mode("overwrite").parquet(model_path)
            # ctx from the WRITTEN model so the two tables can never
            # disagree after a crash between writes
            self.spark.read.parquet(model_path).groupBy("prev").agg(
                F.sum("c2").alias("c1")
            ).write.mode("overwrite").parquet(ctx_path)
            v = toks.select(F.explode("toks").alias("t")).agg(
                F.count_distinct("t")
            ).collect()[0][0]
            self._v = int(v)
            fsio.write_json_meta(
                meta_path, {"family": self.LM_FAMILY, "v": self._v}
            )
        self._model = spark.read.parquet(model_path)
        self._ctx = spark.read.parquet(ctx_path)

    def _audit_path(self) -> str:
        return os.path.join(self.state_dir, "audit")

    def audit(self) -> DataFrame | None:
        p = self._audit_path()
        if not fsio.isdir(p):
            return None
        return self.spark.read.option("basePath", p).parquet(p)

    def accepted_ids(self) -> DataFrame | None:
        a = self.audit()
        return None if a is None else (
            a.filter(F.col("pass")).select("doc_id").distinct()
        )

    def score_batch(self, batch: DataFrame) -> DataFrame:
        """(doc_id, n_bigrams, mean_surprise_q, pass) against the
        standing model — exposed separately so a batch caller can
        reuse the standing screen without the audit write."""
        from bottledwater_pg_spark.operators.llm_queries import (
            _bigram_pairs,
            _bigram_tokens,
        )

        bi = _bigram_pairs(_bigram_tokens(batch.select("doc_id", "text")))
        scored = (
            bi.join(self._model, ["prev", "cur"], "left")
            .join(self._ctx, "prev", "left")
            .withColumn(
                "surprise_q",
                F.expr(
                    f"((coalesce(c1, CAST(0 AS BIGINT)) + {self._v}) "
                    f"* 10000) div (coalesce(c2, CAST(0 AS BIGINT)) + 1)"
                ).cast("long"),
            )
        )
        per_doc = scored.groupBy("doc_id").agg(
            F.count("*").alias("n_bigrams"),
            F.sum("surprise_q").alias("s"),
        ).select(
            "doc_id", "n_bigrams",
            F.expr("s div n_bigrams").cast("long").alias(
                "mean_surprise_q"
            ),
        )
        return batch.select("doc_id").join(per_doc, "doc_id", "left").select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias(
                "n_bigrams"
            ),
            "mean_surprise_q",
            F.when(F.coalesce("n_bigrams", F.lit(0)) == 0, F.lit(True))
            .otherwise(F.col("mean_surprise_q") <= F.lit(self.threshold_q))
            .alias("pass"),
        )

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self.score_batch(batch).write.mode("overwrite").parquet(
            os.path.join(
                self._audit_path(),
                f"run={self._run_key}", f"epoch={epoch_id}",
            )
        )

    def start(self, docs_stream: DataFrame, checkpoint_dir: str):
        _fold_legacy_run_slices((self._audit_path(),), checkpoint_dir)
        self._run_key = _run_key_of(checkpoint_dir)
        return (
            docs_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .start()
        )


class StreamingPerceptronScreen:
    """Always-on ingest-time TRAINED-CLASSIFIER screen: the streaming
    twin of ``perceptron_quality_weights`` — the fasttext-at-crawl
    practice (GPT-3/LLaMA quality classifiers run at ingest, trained
    once offline). The class-balanced batch perceptron is trained
    ONCE on a labeled corpus (llm_queries._perceptron_train — the
    shared loop), the 5-long integer weight vector is persisted to
    the state dir with its family tag, and every micro-batch is
    featurized with the SHARED ``_perceptron_x`` kernel and scored by
    one integer dot against the standing weights: pass iff
    ``w . x > 0``. A standing model from a different feature spec /
    update rule must not score — the meta gate refuses and demands a
    rebuild (the LM screen's discipline).

    State/audit: per-epoch OVERWRITE audit slices (doc_id, score,
    pass) — replay-idempotent; ``accepted_ids()`` is the distinct
    pass set. The model is 5 integers: broadcast trivially, zero
    growth with stream lifetime; scoring is one (doc, token)
    partial agg + a broadcast join — no standing corpus state at
    all."""

    #: bump when the feature spec, rounds, or update rule changes
    PERCEPTRON_FAMILY = "perceptron-balanced/r4/bias-ttr-toptok-wc-maxcnt"

    def __init__(self, spark: SparkSession, state_dir: str,
                 train_feats: DataFrame | None = None):
        self.spark = spark
        self.state_dir = state_dir
        self._run_key = "adhoc"  # start() re-keys from the checkpoint
        fsio.makedirs(state_dir)
        w_path = os.path.join(state_dir, "weights")
        meta_path = os.path.join(state_dir, "meta.json")
        meta = fsio.read_json_meta(meta_path)
        have = (
            fsio.isdir(w_path)
            and any(f.endswith(".parquet") for f in fsio.listdir(w_path))
            and meta is not None
        )
        if have:
            if meta.get("family") != self.PERCEPTRON_FAMILY:
                if train_feats is None:
                    raise LookupError(
                        f"standing classifier was trained under "
                        f"{meta.get('family')!r} but this screen scores "
                        f"with {self.PERCEPTRON_FAMILY!r}; pass "
                        f"train_feats to rebuild"
                    )
                have = False
        if not have:
            if train_feats is None:
                raise LookupError(
                    "no standing classifier in state_dir and no "
                    "train_feats given to build one"
                )
            from bottledwater_pg_spark.operators.llm_queries import (
                _perceptron_train,
            )

            _perceptron_train(self.spark, train_feats).write.mode(
                "overwrite"
            ).parquet(w_path)
            fsio.write_json_meta(
                meta_path, {"family": self.PERCEPTRON_FAMILY}
            )
        self._w = spark.read.parquet(w_path)

    def _audit_path(self) -> str:
        return os.path.join(self.state_dir, "audit")

    def audit(self) -> DataFrame | None:
        p = self._audit_path()
        if not fsio.isdir(p):
            return None
        return self.spark.read.option("basePath", p).parquet(p)

    def accepted_ids(self) -> DataFrame | None:
        a = self.audit()
        return None if a is None else (
            a.filter(F.col("pass")).select("doc_id").distinct()
        )

    def score_batch(self, batch: DataFrame) -> DataFrame:
        """(doc_id, score, pass) against the standing weights —
        exposed separately so a batch caller can reuse the screen
        without the audit write. Docs that produce no feature row
        (empty text) fail closed: no evidence of quality."""
        from bottledwater_pg_spark.operators.llm_queries import (
            _PDOT,
            _perceptron_x,
        )

        scored = (
            _perceptron_x(batch.select("doc_id", "text"))
            .crossJoin(F.broadcast(self._w))
            .select("doc_id", F.expr(_PDOT).cast("long").alias("score"))
        )
        return batch.select("doc_id").join(scored, "doc_id", "left").select(
            "doc_id",
            F.coalesce("score", F.lit(0)).cast("long").alias("score"),
            (F.coalesce("score", F.lit(0)) > 0).alias("pass"),
        )

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self.score_batch(batch).write.mode("overwrite").parquet(
            os.path.join(
                self._audit_path(),
                f"run={self._run_key}", f"epoch={epoch_id}",
            )
        )

    def start(self, docs_stream: DataFrame, checkpoint_dir: str):
        _fold_legacy_run_slices((self._audit_path(),), checkpoint_dir)
        self._run_key = _run_key_of(checkpoint_dir)
        return (
            docs_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .start()
        )


class StreamingVectorDedupIndex(_SlicedDedupIndexBase):
    """Continuous ingest-time SEMANTIC near-dup rejection over an
    embedding stream — the vector twin of :class:`StreamingDedupIndex`
    and the streaming form of SemDeDup's prune rule (Abbas et al.
    2023): a batch vector is rejected iff an earlier-seen (or
    earlier-in-batch, lower-id) vector is within ``threshold`` cosine.
    Candidates come from the SAME SRP band signatures on both the
    intra-batch self-join and the index probe — and because a vector's
    signature is a pure function of the vector, the streamed candidate
    set equals the batch self-join's however arrival slices the
    corpus, so id-ordered ingest reproduces the batch min-id-witness
    rule exactly. Slice/replay/restart semantics are the base class's.

    Scale: each epoch ALSO writes the batch's band signatures (``sig``
    slices, the probe's join key) and quantized vectors + norms
    (``qv`` slices, the verify operands) — both pure functions of the
    vector, computed ONCE at indexing time. A probe therefore does no
    per-call work over the corpus: it broadcasts the batch's bands
    against the stored signatures (partition-pruned like every slice
    read) and fetches stored quantized vectors only for candidate
    ids. Cost per batch is O(batch), never O(corpus)."""

    ID_COL = "vec_id"
    PAYLOAD_COLS = ("vec_id", "embedding")
    EXTRA_SLICES = ("sig", "qv")

    def __init__(self, spark: SparkSession, state_dir: str,
                 threshold: float = 0.99,
                 num_bits: int = 24, bands: int = 4,
                 fold_every: int | None = None,
                 l1_max: int | None = None,
                 base_buckets: int | None = None):
        super().__init__(spark, state_dir, threshold, fold_every,
                         l1_max=l1_max, base_buckets=base_buckets)
        self.num_bits = num_bits
        self.bands = bands

    def index_vectors(self) -> DataFrame | None:
        full = self._index_slices()
        return None if full is None else full.select("vec_id", "embedding")

    def _intra_rejects(self, batch: DataFrame) -> DataFrame:
        from bottledwater_pg_spark.operators import dedup

        return (
            dedup.hyperplane_lsh_near_dup(
                batch, threshold=self.threshold,
                num_bits=self.num_bits, bands=self.bands,
            )
            .select(F.col("b_id").alias("vec_id"))
            .distinct()
        )

    def _probe_index(self, batch: DataFrame,
                     epoch_id: int) -> DataFrame:
        from bottledwater_pg_spark.operators import dedup

        prior_sig = self._prior(self._read_slices("sig"), epoch_id).select(
            "sid", "band", "bval"
        )
        prior_qv = self._prior(self._read_slices("qv"), epoch_id).select(
            "sid", "qvec", "qnorm"
        )
        return (
            dedup.incremental_cosine_matches(
                None, batch, threshold=self.threshold,
                num_bits=self.num_bits, bands=self.bands,
                index_banded=prior_sig, index_quant=prior_qv,
            )
            .filter(F.col("match_id") != F.col("new_id"))
            .select(F.col("new_id").alias("vec_id"))
            .distinct()
        )

    def _write_extra_slices(self, batch: DataFrame,
                            epoch_id: int) -> None:
        from bottledwater_pg_spark.operators.dedup import (
            banded_srp,
            quantized_vectors,
        )

        self._write_slice(
            banded_srp(batch, self.num_bits, self.bands), "sig", epoch_id
        )
        self._write_slice(quantized_vectors(batch), "qv", epoch_id)


class StreamingClusteredSemDeDupIndex(_SlicedDedupIndexBase):
    """Continuous ingest-time TRAINED SemDeDup: the streaming twin of
    ``llm_queries.kmeans_semdedup_stats`` (Abbas et al. 2023 run
    k-means FIRST, then prune within clusters). Centroids are trained
    ONCE (exact-integer Lloyd's over a training corpus —
    operators/similarity.kmeans_lloyd) and persisted to the state dir
    with their build parameters, like the contamination screen's
    standing bitmap; each micro-batch assigns its vectors to the
    standing centroids (the same min-d2/lowest-cid E-step rule as
    training) and rejects every vector with an earlier-seen — or
    earlier-in-batch, lower-id — same-cluster neighbor at cosine >=
    threshold.

    Probe cost: the cluster assignment is one broadcast of the k x dim
    centroid table; the index probe is a cent_id EQUI-join of the
    batch against the stored per-epoch (sid, cent_id, qvec, qnorm)
    slices — each batch vector is COMPARED only against its own
    cluster's stored rows (the SemDeDup point: cluster size, not
    corpus size, bounds the pair work; at 10^9+ vectors raise k and
    the per-batch cost shape is unchanged). Compute is
    O(batch x cluster) AND the READ is too: cqv slices are written
    partitioned by cent_id (SLICE_PARTITION_COLS) and the probe
    filters on the batch's literal cell list, so file listing prunes
    to the touched clusters' directories — the same layout as the
    batch IVF index.

    Parity with the batch rule: for id-ordered ingest over the SAME
    persisted centroids, the rejected-id set equals
    ``similarity.semdedup_pairs_pruned`` over the batch kmeans
    assignment — the whole batch (accepted AND rejected) is indexed,
    so a pruned vector still witnesses later near-dups exactly as the
    batch pair rule allows (kept_by may itself be pruned).

    Persisted-state contract: meta.json records (k, iters, family);
    a standing centroid table built under different parameters or a
    different quantizer/assignment family is silently wrong to probe
    — on mismatch this rebuilds when a training corpus is at hand and
    raises otherwise (the Bloom-screen meta gate, applied here).
    """

    ID_COL = "vec_id"
    PAYLOAD_COLS = ("vec_id", "embedding")
    EXTRA_SLICES = ("cqv",)
    #: cqv slices are PARTITIONED by cluster id (uniformly — live
    #: epochs and the base snapshot alike), so the probe's cell filter
    #: prunes at file-listing time: a batch touching c clusters reads
    #: c directories, not the whole standing index
    SLICE_PARTITION_COLS = {"cqv": ("cent_id",)}

    #: bump when the quantizer / distance / tie-break rule changes —
    #: persisted centroids from another family must not be probed
    CENTROID_FAMILY = "kmeans-lloyd/int-d2/floor1e6/min-cid-ties"

    def __init__(self, spark: SparkSession, state_dir: str,
                 threshold: float = 0.99,
                 train_corpus: DataFrame | None = None,
                 k: int = 8, iters: int = 4,
                 fold_every: int | None = None,
                 l1_max: int | None = None,
                 base_buckets: int | None = None):
        super().__init__(spark, state_dir, threshold, fold_every,
                         l1_max=l1_max, base_buckets=base_buckets)
        self.k = k
        self.iters = iters
        cent_path = os.path.join(state_dir, "centroids")
        meta_path = os.path.join(state_dir, "centroids_meta.json")
        meta = fsio.read_json_meta(meta_path)
        have = (
            fsio.isdir(cent_path)
            and any(f.endswith(".parquet") for f in fsio.listdir(cent_path))
            and meta is not None
        )
        if have:
            if (
                meta.get("family") != self.CENTROID_FAMILY
                or int(meta.get("k", -1)) != k
                or int(meta.get("iters", -1)) != iters
            ):
                if train_corpus is None:
                    raise LookupError(
                        f"standing centroids were built as {meta!r} but "
                        f"this index wants k={k} iters={iters} family="
                        f"{self.CENTROID_FAMILY!r}; pass train_corpus "
                        f"to rebuild"
                    )
                have = False
        if not have:
            if train_corpus is None:
                raise LookupError(
                    "no standing centroids in state_dir and no "
                    "train_corpus given to build them"
                )
            from bottledwater_pg_spark.operators.similarity import (
                kmeans_lloyd,
            )

            _assign, cents = kmeans_lloyd(train_corpus, k=k, iters=iters)
            cents.write.mode("overwrite").parquet(cent_path)
            fsio.write_json_meta(
                meta_path,
                {"k": k, "iters": iters, "family": self.CENTROID_FAMILY},
            )
        self._centroids = spark.read.parquet(cent_path)

    def _assign(self, batch: DataFrame) -> DataFrame:
        """(sid, cent_id, qvec, qnorm): nearest standing centroid by
        exact int64 squared euclidean distance, ties to the lowest
        cid — bit-identical to the training E-step, so a vector seen
        at train time lands in its training cluster.

        Memoized per batch OBJECT and persisted: all three hooks the
        base loop calls (intra rejects, index probe, slice write)
        need the assignment, and without the cache each would re-run
        the quantize + broadcast-argmin shuffle — 3x the per-batch
        work. The base loop's end-of-batch ``release_persisted()``
        drops the cache entry's storage; the dict entry itself is
        replaced on the next batch."""
        from bottledwater_pg_spark.operators.dedup import quantized_vectors
        from bottledwater_pg_spark.session import persist_tracked

        cached = getattr(self, "_assign_cache", None)
        if cached is not None and cached[0] is batch:
            return cached[1]

        q = quantized_vectors(batch)
        d2 = F.expr(
            "aggregate(zip_with(qvec, cv, (x, y) -> (x - y) * (x - y)), "
            "CAST(0 AS BIGINT), (acc, p) -> acc + p)"
        )
        scored = q.crossJoin(F.broadcast(self._centroids)).withColumn(
            "d2", d2
        )
        assigned = persist_tracked(
            scored.groupBy("sid")
            .agg(
                F.min_by(
                    F.struct("cid", "d2"), F.struct("d2", "cid")
                ).alias("m"),
                F.first("qvec").alias("qvec"),
                F.first("qnorm").alias("qnorm"),
            )
            .select(
                "sid", F.col("m.cid").alias("cent_id"), "qvec", "qnorm"
            )
        )
        self._assign_cache = (batch, assigned)
        return assigned

    def _intra_rejects(self, batch: DataFrame) -> DataFrame:
        from bottledwater_pg_spark.operators import similarity

        return (
            similarity.semdedup_pairs_pruned(
                self._assign(batch), self.threshold
            )
            .select(F.col("pruned_id").alias("vec_id"))
            .distinct()
        )

    def _probe_index(self, batch: DataFrame,
                     epoch_id: int) -> DataFrame:
        from bottledwater_pg_spark.functions.vectors import cosine_pre

        probe = self._assign(batch)
        # literal cell list -> STATIC partition pruning on the
        # cent_id-partitioned cqv slices: the read touches only the
        # <= min(|batch|, k) clusters this batch lands in, instead of
        # scanning every stored row and letting the join discard them.
        # The collect is bounded metadata (at most k ints) off the
        # already-persisted assignment.
        cells = [
            r[0] for r in probe.select("cent_id").distinct().collect()
        ]
        if not cells:  # empty batch: nothing to probe
            return probe.select(F.col("sid").alias("vec_id")).limit(0)
        prior = (
            self._prior(self._read_slices("cqv"), epoch_id)
            .filter(F.col("cent_id").isin(cells))
            .select(
                "cent_id",
                F.col("sid").alias("m_id"),
                F.col("qvec").alias("m_q"),
                F.col("qnorm").alias("m_n"),
            )
        )
        return (
            probe.join(prior, "cent_id")
            .filter(F.col("m_id") != F.col("sid"))
            .withColumn("cos", cosine_pre("qvec", "m_q", "qnorm", "m_n"))
            .filter(F.col("cos") >= self.threshold)
            .select(F.col("sid").alias("vec_id"))
            .distinct()
        )

    def _write_extra_slices(self, batch: DataFrame,
                            epoch_id: int) -> None:
        self._write_slice(self._assign(batch), "cqv", epoch_id)


class StreamingSourceQuotaIndex(_SlicedDedupIndexBase):
    """Continuous ingest-time per-source quota capping: the streaming
    twin of ``llm_queries.source_quota_sample`` (the RefinedWeb-style
    per-domain cap applied DURING the crawl instead of after it).
    Each micro-batch ranks its docs within source by (content
    fingerprint, doc_id) and accepts a doc iff the source's standing
    accepted count plus the doc's in-batch rank fits the budget —
    earlier-seen-wins across batches (an accept is never revoked; the
    streaming-feasible reading of the batch lowest-fingerprint draw,
    to which it is EQUAL when the corpus arrives as one batch).

    State is the accepted (source, doc_id) slices the shared base
    machinery already maintains; the budget probe is one per-source
    COUNT over prior slices — bytes per source, not rows per doc.
    Replay idempotence is inherited: a replayed epoch sees the same
    prior counts (its own slice is excluded by the `_prior` filter)
    and re-decides identically; a restarted instance resumes the
    standing budgets from disk.
    """

    ID_COL = "doc_id"
    PAYLOAD_COLS = ("doc_id", "source", "text")
    # the accepted slices hold only doc_id (base contract); budgets
    # need (source, doc_id) — stored per epoch, joined to accepted
    EXTRA_SLICES = ("members",)

    def __init__(self, spark: SparkSession, state_dir: str,
                 cap: int = 20, fold_every: int | None = None,
                 l1_max: int | None = None,
                 base_buckets: int | None = None):
        from bottledwater_pg_spark.functions.text import (
            FINGERPRINT_FAMILY,
        )

        # threshold is the dedup bases' knob; unused here
        super().__init__(spark, state_dir, threshold=0.0,
                         fold_every=fold_every, l1_max=l1_max,
                         base_buckets=base_buckets)
        self.cap = cap
        # Persisted-state contract (the Bloom-screen / clustered-
        # semdedup meta gate, applied here): standing budgets are only
        # meaningful under the cap and fingerprint family they were
        # accepted under — a restarted instance constructed with a
        # different cap (budgets silently re-scoped) or after a
        # fingerprint-function change (in-batch ranks reshuffle, so
        # replay re-decides differently) must refuse, not reinterpret.
        # Unlike the siblings there is no rebuild path: accepted
        # budgets are history, not a derivable index, so mismatch is
        # always a hard error. meta.json lands at construction, BEFORE
        # any slice write, so any standing state implies a recorded
        # contract (fsio.write_json_meta's promote discipline).
        meta_path = os.path.join(state_dir, "meta.json")
        meta = fsio.read_json_meta(meta_path)
        if meta is not None:
            if (
                int(meta.get("cap", -1)) != cap
                or meta.get("fingerprint_family") != FINGERPRINT_FAMILY
            ):
                raise LookupError(
                    f"standing quota state was accepted under "
                    f"{meta!r} but this index wants cap={cap} "
                    f"fingerprint_family={FINGERPRINT_FAMILY!r}; "
                    f"budgets cannot be reinterpreted — start a fresh "
                    f"state_dir (or restore the original parameters)"
                )
        elif self._have_accepted or self._have_index:
            raise LookupError(
                "standing quota state has no meta.json (pre-contract "
                "incarnation): the cap it was accepted under is "
                "unknown — start a fresh state_dir"
            )
        else:
            fsio.write_json_meta(
                meta_path,
                {"cap": cap, "fingerprint_family": FINGERPRINT_FAMILY},
            )

    def _batch_ranked(self, batch: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        from bottledwater_pg_spark.functions.text import fingerprint

        w = Window.partitionBy("source").orderBy(
            fingerprint("text"), "doc_id"
        )
        return batch.select(
            "doc_id", "source", F.row_number().over(w).alias("rn")
        )

    def _intra_rejects(self, batch: DataFrame) -> DataFrame:
        # no standing budgets yet (first batch): in-batch rank alone
        return (
            self._batch_ranked(batch)
            .filter(F.col("rn") > self.cap)
            .select("doc_id")
        )

    def _probe_index(self, batch: DataFrame,
                     epoch_id: int) -> DataFrame:
        if not self._have_accepted:
            return self._intra_rejects(batch).limit(0)
        # standing budgets: accepted docs only (the accepted slices
        # carry just doc_id, so the source comes from the members
        # slice via a doc_id semi-join — both prior-filtered, and the
        # result is <= cap rows per source)
        prior_accepted = self._prior(
            self._read_slices("accepted"), epoch_id
        ).select("doc_id")
        # distinct BEFORE counting: a doc re-delivered under a fresh
        # epoch (or re-fed after a restart under a new run key) has
        # member rows in several (run, epoch) partitions, and every
        # duplicate row of an accepted doc passes the semi-join —
        # counting rows would inflate n_prior and wrongly reject later
        # docs from a source with remaining budget
        prior_n = (
            self._prior(self._read_slices("members"), epoch_id)
            .join(prior_accepted, "doc_id", "left_semi")
            .select("source", "doc_id")
            .distinct()
            .groupBy("source")
            .agg(F.count("*").alias("n_prior"))
        )
        return (
            self._batch_ranked(batch)
            .join(F.broadcast(prior_n), "source", "left")
            .filter(
                F.coalesce(F.col("n_prior"), F.lit(0)) + F.col("rn")
                > self.cap
            )
            .select("doc_id")
        )

    def _write_extra_slices(self, batch: DataFrame,
                            epoch_id: int) -> None:
        self._write_slice(
            batch.select("source", "doc_id"), "members", epoch_id
        )
