"""Structured Streaming plane tests: micro-batched CDC replay through
foreachBatch materialization must converge to the same state as batch
materialization (snapshot->stream continuity, message_spec.rb:78-96),
and be idempotent under duplicate replay (at-least-once upgrade, T2).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from bottledwater_pg_spark.operators.materialize import materialize
from bottledwater_pg_spark.session import load_table
from bottledwater_pg_spark.sources.generator import MutationSpec, generate_cdc
from bottledwater_pg_spark.streaming.stream import (
    StreamingMaterializer,
    read_envelope_stream,
    write_envelope_stream,
)

SPEC = MutationSpec(update_exprs={"c_acctbal": "c_acctbal + 100.0"})


def test_streaming_materialization_converges(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    events = generate_cdc(
        cust, ["c_custkey"], F.col("c_custkey"), 16385, "customer", SPEC
    )
    expected = materialize(events, cust.schema).toPandas()
    expected = expected.sort_values("c_custkey").reset_index(drop=True)

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events"
        write_envelope_stream(events, src, num_files=5)
        stream = read_envelope_stream(spark, src, files_per_trigger=1)
        mat = StreamingMaterializer(spark, f"{tmp}/state", cust.schema)
        q = mat.start(stream, f"{tmp}/ckpt")
        q.processAllAvailable()
        q.stop()
        got = mat.current_rows().toPandas()
        got = got.sort_values("c_custkey").reset_index(drop=True)
        import pandas as pd

        pd.testing.assert_frame_equal(
            got[expected.columns.tolist()], expected, check_dtype=False
        )


def test_streaming_is_idempotent_under_replay(spark, sf_dir):
    """Reprocessing the same events (duplicate delivery) leaves the
    state unchanged — the exactly-once upgrade over the reference's
    at-least-once (bottledwater.c:684-689)."""
    cust = load_table(spark, sf_dir, "customer")
    events = generate_cdc(
        cust, ["c_custkey"], F.col("c_custkey"), 16385, "customer", SPEC
    )
    with tempfile.TemporaryDirectory() as tmp:
        mat = StreamingMaterializer(spark, f"{tmp}/state", cust.schema)
        batch = events  # whole stream as one batch
        mat.process_batch(batch, 0)
        first = mat.current_rows().toPandas().sort_values("c_custkey")
        mat.process_batch(batch, 1)  # replay
        second = mat.current_rows().toPandas().sort_values("c_custkey")
        import pandas as pd

        pd.testing.assert_frame_equal(
            first.reset_index(drop=True), second.reset_index(drop=True)
        )


def _job_stage_names(spark, group, fn):
    """Run ``fn`` under its own Spark job group; return, per job it
    ran, the names (call sites) of that job's stages."""
    import uuid

    sc = spark.sparkContext
    group = f"{group}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = [
        [tracker.getStageInfo(s) for s in tracker.getJobInfo(j).stageIds]
        for j in sorted(tracker.getJobIdsForGroup(group))
    ]
    return [[s.name for s in job if s is not None] for job in stages]


def test_materializer_job_budget_per_batch(spark, sf_dir, tmp_path):
    """The per-batch Spark-job budget, counted by job group: a keyed
    merge into standing state is one exchange plus the write (2 jobs),
    read_state() plans from the pinned schema without running a job,
    and drift mode's control-trickle collect is one job (sorted on the
    driver, not by a range sort's sample + shuffle + collect)."""
    from bottledwater_pg_spark.plans.envelope import envelope_schema
    from bottledwater_pg_spark.schema_tracker import table_schema_events

    relid = 16385
    cust = load_table(spark, sf_dir, "customer")
    events = table_schema_events(cust, relid, "customer", lsn=-1).unionByName(
        generate_cdc(
            cust, ["c_custkey"], F.col("c_custkey"), relid, "customer", SPEC
        )
    )
    events.write.parquet(str(tmp_path / "events"))
    # a batch that plans without a footer job, like a file-source one
    batch = spark.read.schema(envelope_schema()).parquet(
        str(tmp_path / "events")
    )

    mat = StreamingMaterializer(spark, str(tmp_path / "keyed"), cust.schema)
    mat.process_batch(batch, 0)
    merge = _job_stage_names(spark, "merge", lambda: mat.process_batch(batch, 1))
    assert len(merge) == 2, merge
    assert _job_stage_names(spark, "read", mat.read_state) == []

    drift = StreamingMaterializer(
        spark, str(tmp_path / "drift"), cust.schema, relid=relid
    )
    drift.process_batch(batch, 0)
    jobs = _job_stage_names(spark, "drift", lambda: drift.process_batch(batch, 1))
    collects = [j for j in jobs if any(n.startswith("collect at") for n in j)]
    assert len(collects) == 1, jobs
    assert drift.current_schema() == cust.schema
    got, want = mat.current_rows(), materialize(events, cust.schema)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_streaming_schema_drift_re_resolution(spark, sf_dir):
    """Mid-stream DDL drift (SURVEY §7.4): a v2 TableSchema control
    event arrives in a later micro-batch with a new column. The
    foreachBatch handler re-resolves the newest schema per batch
    (from_json is fixed per query, so re-resolution happens at batch
    boundaries); raw payloads are kept undecoded in state, and the
    final decode with the newest schema reads pre-change rows with
    null for the added column — the reference's add-column matrix
    (topic_spec.rb:113-274)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from bottledwater_pg_spark.plans.envelope import ROW_JSON_OPTIONS
    from bottledwater_pg_spark.schema_tracker import (
        SchemaTracker,
        resolve_schemas,
        table_schema_events,
    )
    from bottledwater_pg_spark.sources.generator import snapshot_events

    relid = 777
    base = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey").between(1, 30))
        .select("c_custkey", "c_name")
    )
    v1_rows = snapshot_events(base, ["c_custkey"], F.col("c_custkey"), relid,
                              "customer")
    v2_base = base.select(
        (F.col("c_custkey") + 1000).alias("c_custkey"),
        "c_name",
        F.lit("flagged").alias("c_flag"),
    )
    v2_rows = snapshot_events(v2_base, ["c_custkey"], F.col("c_custkey"),
                              relid, "customer")

    tracker = SchemaTracker()
    state: dict = {}

    def handle_batch(batch_df, _epoch):
        resolve_schemas(batch_df, tracker)
        for r in (
            batch_df.filter(F.col("new_row").isNotNull())
            .select("key", "lsn", "new_row")
            .collect()
        ):
            cur = state.get(r["key"])
            if cur is None or r["lsn"] > cur[0]:
                state[r["key"]] = (r["lsn"], r["new_row"])

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events"
        # file 1: v1 schema + v1 rows; file 2: v2 schema + v2 rows
        table_schema_events(base, relid, "customer", lsn=0).unionByName(
            v1_rows
        ).coalesce(1).write.parquet(src)
        table_schema_events(v2_base, relid, "customer", lsn=900).unionByName(
            v2_rows
        ).coalesce(1).write.mode("append").parquet(src)

        from bottledwater_pg_spark.streaming.stream import read_envelope_stream

        q = (
            read_envelope_stream(spark, src, files_per_trigger=1)
            .writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    assert len(tracker.versions[relid]) == 2, "both schema versions observed"
    newest = tracker.current(relid)
    assert "c_flag" in newest.fieldNames()
    payloads = spark.createDataFrame(
        [(v[1],) for v in state.values()], "new_row string"
    )
    decoded = payloads.select(
        F.from_json("new_row", newest, ROW_JSON_OPTIONS).alias("r")
    ).select("r.*").toPandas()
    old = decoded[decoded.c_custkey <= 1000]
    new = decoded[decoded.c_custkey > 1000]
    assert len(old) == 30 and old.c_flag.isna().all()
    assert len(new) == 30 and (new.c_flag == "flagged").all()


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream inner join with watermarks on both sides and a
    time-range condition (purchase joined to clicks in the preceding
    hour) emits exactly the batch join's pairs — the unified-model
    guarantee SURVEY §2.2 claims for stream-stream joins."""
    # watermarks require TIMESTAMP (tz-aware), not the parquet NTZ type
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    clicks_b = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    buys_b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("buy_ts"),
        F.col("event_id").alias("buy_id"),
    )
    cond = (
        (F.col("c_uid") == F.col("p_uid"))
        & (F.col("click_ts") <= F.col("buy_ts"))
        & (F.col("click_ts") >= F.col("buy_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    expected = {
        (r["buy_id"], r["click_id"])
        for r in buys_b.join(clicks_b, cond).select("buy_id", "click_id").collect()
    }
    assert expected, "fixture must produce join pairs"

    with tempfile.TemporaryDirectory() as tmp:
        clicks_b.repartition(3).write.parquet(f"{tmp}/clicks")
        buys_b.repartition(3).write.parquet(f"{tmp}/buys")
        # files replay in arbitrary time order, so the watermark delay
        # must cover the fixture's full span for exact batch parity
        # (state-eviction/late-drop behavior is pinned separately in
        # test_skew_and_watermark.py)
        cs = (
            spark.readStream.schema(clicks_b.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/clicks")
            .withWatermark("click_ts", "3650 days")
        )
        bs = (
            spark.readStream.schema(buys_b.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/buys")
            .withWatermark("buy_ts", "3650 days")
        )
        q = (
            bs.join(cs, cond)
            .select("buy_id", "click_id")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("ss_join")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["buy_id"], r["click_id"])
            for r in spark.sql("SELECT * FROM ss_join").collect()
        }
    assert got == expected


def test_streaming_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark over a stream that replays every
    event twice (at-least-once delivery) emits each event_id once."""
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "ts", "user_id")
        .limit(500)
    )
    n_distinct = ev.select("event_id").distinct().count()
    doubled = ev.unionByName(ev)

    with tempfile.TemporaryDirectory() as tmp:
        doubled.repartition(4).write.parquet(f"{tmp}/src")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(f"{tmp}/src")
            .withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_stream")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.sql("SELECT event_id FROM dedup_stream").toPandas()
    assert len(got) == n_distinct
    assert got.event_id.nunique() == n_distinct


def test_tombstone_ttl_expires_deleted_keys(spark, sf_dir):
    """Tombstone retention (Kafka delete.retention.ms semantics over
    the state store): keys whose final event is a delete are purged
    after the TTL, emitting op='expired'; live keys are untouched."""
    import time

    from bottledwater_pg_spark.streaming.stream import (
        stateful_latest_by_key_ttl,
    )

    cust = load_table(spark, sf_dir, "customer").limit(200)
    events = generate_cdc(
        cust, ["c_custkey"], F.col("c_custkey"), 16385, "customer", SPEC
    )
    expected_tombs = {
        r["key"]
        for r in events.filter(F.col("op") == "delete")
        .select("key")
        .collect()
    }
    assert expected_tombs, "fixture must produce tombstones"

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events"
        write_envelope_stream(events, src, num_files=2)
        stream = read_envelope_stream(spark, src, files_per_trigger=1)
        q = (
            stateful_latest_by_key_ttl(stream, tombstone_ttl_ms=500)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("ttl_latest")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        # processAllAvailable() livelocks under processing-time timeouts
        # (timer batches keep the query busy), so poll the sink with a
        # deadline instead; timer batches fire expiries on their own.
        try:
            # generous deadline: under heavy host load (parallel soak
            # runs) the processing-time timer batches that fire the
            # expiries can lag far behind the 500 ms TTL
            deadline = time.time() + 240
            expired: set = set()
            while time.time() < deadline:
                out = spark.sql(
                    "SELECT key, op, lsn FROM ttl_latest"
                ).toPandas()
                expired = set(out[out.op == "expired"].key)
                if expired >= expected_tombs:
                    break
                time.sleep(1.0)
        finally:
            # stop() races the in-flight processing-time timer batch:
            # the batch's state-store abort (HDFSBackedStateStore.abort
            # -> createAtomic) can surface an OSError through stop()'s
            # awaitTermination on a loaded host. All assertions below
            # run on data ALREADY collected, so tolerate only this
            # teardown race — then await full thread exit so the
            # TemporaryDirectory teardown can't outrace the abort path.
            try:
                q.stop()
            except Exception:
                pass
            try:
                q.awaitTermination(30)
            except Exception:
                pass

        live = out[out.op != "expired"]
        final = live.sort_values("lsn").groupby("key").last()
        tomb_keys = set(final[final.op == "delete"].index)
        # every key whose final event is a tombstone must have expired,
        # and nothing else may expire
        assert tomb_keys == expected_tombs
        assert expired == expected_tombs


def test_stateful_latest_by_key_converges(spark, sf_dir):
    """applyInPandasWithState latest-by-key over micro-batches emits,
    as its final per-key update, exactly the batch compaction result
    (including tombstones as delete-ops)."""
    from bottledwater_pg_spark.operators.materialize import compact
    from bottledwater_pg_spark.streaming.stream import stateful_latest_by_key

    cust = load_table(spark, sf_dir, "customer")
    events = generate_cdc(
        cust, ["c_custkey"], F.col("c_custkey"), 16385, "customer", SPEC
    )
    expected = compact(events).toPandas().sort_values("key").reset_index(drop=True)

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events"
        write_envelope_stream(events, src, num_files=4)
        stream = read_envelope_stream(spark, src, files_per_trigger=1)
        q = (
            stateful_latest_by_key(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("stateful_latest")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = (
            spark.sql(
                """
                SELECT key, op, lsn, new_row FROM (
                  SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY key ORDER BY lsn DESC) AS rn
                  FROM stateful_latest) WHERE rn = 1
                """
            )
            .toPandas()
            .sort_values("key")
            .reset_index(drop=True)
        )
        import pandas as pd

        pd.testing.assert_frame_equal(
            got[expected.columns.tolist()], expected, check_dtype=False
        )


def test_stream_static_join_matches_batch(spark, sf_dir):
    """Stream-TABLE join — the exact consumer the reference README
    names as needing key-consistent partitioning (README.md:384-398,
    bottledwater.c:800-807): a CDC event stream enriched against a
    static dimension. The static side re-resolves per micro-batch and
    broadcasts; output must equal the batch join."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    expected = {
        (r["event_id"], r["c_mktsegment"])
        for r in ev.join(cust, "user_id").collect()
    }
    assert expected, "fixture must produce join rows"

    with tempfile.TemporaryDirectory() as tmp:
        ev.repartition(4).write.parquet(f"{tmp}/ev")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/ev")
        )
        enriched = stream.join(F.broadcast(cust), "user_id").select(
            "event_id", "c_mktsegment"
        )
        q = (
            enriched.writeStream.format("memory")
            .queryName("stream_static")
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["event_id"], r["c_mktsegment"])
            for r in spark.sql("SELECT * FROM stream_static").collect()
        }
    assert got == expected


def test_restart_resumes_from_checkpoint_without_reprocessing(spark, sf_dir):
    """Kill-and-restart recovery (the reference's resume-from-slot,
    connect.c:302-311 / S5): a restarted query with the same
    checkpoint processes ONLY data that arrived while it was down —
    offsets live in the checkpoint, and the final state equals the
    one-shot batch materialization."""
    from bottledwater_pg_spark.operators.materialize import drop_tombstones
    from bottledwater_pg_spark.streaming.stream import read_envelope_stream

    cust = load_table(spark, sf_dir, "customer")
    events = generate_cdc(
        cust, ["c_custkey"], F.col("c_custkey"), 16385, "customer", SPEC
    ).cache()
    lo, hi = events.agg(F.min("lsn"), F.max("lsn")).first()
    mid = lo + (hi - lo) // 2
    first_half = events.filter(F.col("lsn") <= mid)
    second_half = events.filter(F.col("lsn") > mid)

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events"
        first_half.repartition(2).write.parquet(src)
        mat = StreamingMaterializer(spark, f"{tmp}/state", cust.schema)
        processed: list[int] = []

        def handle(batch, epoch):
            processed.append(batch.count())
            mat.process_batch(batch, epoch)

        def run_until_drained():
            q = (
                read_envelope_stream(spark, src, files_per_trigger=1)
                .writeStream.foreachBatch(handle)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .start()
            )
            q.processAllAvailable()
            q.stop()

        run_until_drained()  # run 1: first half only
        n_first = sum(processed)
        assert n_first == first_half.count()

        # "crash": query stopped; more data lands while down
        second_half.repartition(2).write.mode("append").parquet(src)
        run_until_drained()  # run 2: same checkpoint
        n_total = sum(processed)
        # only the new files were read on restart
        assert n_total - n_first == second_half.count()

        got = mat.current_rows().toPandas().sort_values("c_custkey")
        expected = (
            materialize(events, cust.schema).toPandas().sort_values("c_custkey")
        )
        import pandas as pd

        pd.testing.assert_frame_equal(
            got.reset_index(drop=True)[expected.columns.tolist()],
            expected.reset_index(drop=True),
            check_dtype=False,
        )
    events.unpersist()


def test_streaming_session_windows_match_batch(spark, sf_dir):
    """Session windows on a TRUE stream (complete output mode) equal
    the batch session computation — the unified-model guarantee for
    the gaps-and-islands operator."""
    from bottledwater_pg_spark.streaming.stream import sessionized_counts

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionized_counts(ev, watermark="3650 days").collect()
    }
    assert batch

    with tempfile.TemporaryDirectory() as tmp:
        ev.repartition(3).write.parquet(f"{tmp}/ev")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/ev")
        )
        q = (
            sessionized_counts(stream, watermark="3650 days")
            .writeStream.format("memory")
            .queryName("sessions_stream")
            .outputMode("complete")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.sql("SELECT * FROM sessions_stream").collect()
        }
    assert got == batch


def test_hierarchical_rollup_equals_direct_daily(spark, sf_dir):
    """Telescoping invariant: day-from-hour-from-minute partials equal
    the direct one-shot daily aggregate (decomposable aggregates +
    epoch-aligned nesting)."""
    from pyspark.sql import functions as F

    from bottledwater_pg_spark.session import load_table
    from bottledwater_pg_spark.streaming.stream import (
        _event_time_ready,
        hierarchical_rollup,
    )

    ev = load_table(spark, sf_dir, "events")
    rolled = hierarchical_rollup(ev)
    direct = (
        _event_time_ready(ev)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
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
    assert rolled.exceptAll(direct).count() == 0
    assert direct.exceptAll(rolled).count() == 0


def test_transform_with_state_gated(spark, sf_dir):
    """Spark 4 transformWithStateInPandas twin of stateful_latest_by_key:
    runs (and must converge to batch compaction) where protobuf exists;
    raises the documented NotImplementedError here (protobuf absent)."""
    import pytest

    from bottledwater_pg_spark.streaming.stream import (
        stateful_latest_by_key_tws,
        tws_available,
    )

    cust = load_table(spark, sf_dir, "customer")
    events = generate_cdc(
        cust, ["c_custkey"], F.col("c_custkey"), 16385, "customer", SPEC
    )
    if not tws_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            stateful_latest_by_key_tws(events)
        return
    from bottledwater_pg_spark.operators.materialize import compact  # pragma: no cover

    expected = compact(events).toPandas().sort_values("key").reset_index(drop=True)
    with tempfile.TemporaryDirectory() as tmp:
        write_envelope_stream(events, f"{tmp}/ev", num_files=4)
        stream = read_envelope_stream(spark, f"{tmp}/ev", files_per_trigger=1)
        q = (
            stateful_latest_by_key_tws(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_latest")
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = (
            spark.sql(
                """
                SELECT key, op, lsn, new_row FROM (
                  SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY key ORDER BY lsn DESC) AS rn
                  FROM tws_latest) WHERE rn = 1
                """
            )
            .toPandas()
            .sort_values("key")
            .reset_index(drop=True)
        )
        import pandas as pd

        pd.testing.assert_frame_equal(
            got[["key", "op", "lsn", "new_row"]],
            expected[["key", "op", "lsn", "new_row"]],
        )


def test_streaming_dedup_index_equals_batch_rule_and_replay_idempotent(
    spark, sf_dir, tmp_path
):
    """StreamingDedupIndex over the duplicate-injected corpus in 3
    id-ordered micro-batches: the accepted set must equal the batch
    min-id-witness rule (doc rejected iff ANY lower-id doc in the
    whole corpus is within threshold), and replaying a batch must not
    change the accepted set."""
    from pyspark.sql import functions as F

    from bottledwater_pg_spark.operators import dedup
    from bottledwater_pg_spark.operators.llm_queries import (
        docs_with_near_dups,
    )
    from bottledwater_pg_spark.streaming.stream import StreamingDedupIndex

    corpus = docs_with_near_dups(spark, sf_dir)
    idx = StreamingDedupIndex(
        spark, str(tmp_path / "dedup_state"), threshold=0.8
    )
    # id-ordered batches: earlier-seen == lower-id, so streaming
    # acceptance must equal the batch min-id-witness rule (rejected
    # docs still enter the index and serve as witnesses)
    batches = [
        corpus.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        for lo, hi in [(0, 120), (120, 260), (260, 10**9)]
    ]
    for e, b in enumerate(batches):
        idx.process_batch(b, e)
    accepted = {r.doc_id for r in idx.accepted_ids().collect()}

    pairs = dedup.jaccard_pairs(corpus, 0.8).toPandas()
    rejected_batch_rule = set(pairs.b_id)
    expected = {
        r.doc_id for r in corpus.select("doc_id").collect()
    } - rejected_batch_rule
    assert accepted == expected

    # SAME-epoch replay (crash after the epoch-1 slice write, before
    # the checkpoint commit → foreachBatch re-runs with epoch_id=1):
    # the probe must exclude the batch's own previously-written index
    # slice, or a doc whose intra-batch near-dup mate sits in that
    # slice gets rejected via rejected_vs_index and the per-epoch
    # overwrite durably drops a doc the original run accepted
    idx.process_batch(batches[1], 1)
    again = {r.doc_id for r in idx.accepted_ids().collect()}
    assert again == accepted

    # different-epoch replay (at-least-once re-delivery under a fresh
    # epoch): identity matches are excluded, accepted list is
    # distinct-by-id -> unchanged
    idx.process_batch(batches[1], 99)
    again = {r.doc_id for r in idx.accepted_ids().collect()}
    assert again == accepted


def test_streaming_dedup_index_runs_as_real_stream(spark, sf_dir):
    """StreamingDedupIndex behind an actual readStream (file source,
    one file per trigger): the accepted set must equal the direct
    process_batch result from the other test — i.e. the batch
    min-id-witness rule — proving the foreachBatch hook works under
    the real streaming engine, checkpoints and all."""
    from pyspark.sql import functions as F

    from bottledwater_pg_spark.operators import dedup
    from bottledwater_pg_spark.operators.llm_queries import (
        docs_with_near_dups,
    )
    from bottledwater_pg_spark.streaming.stream import StreamingDedupIndex

    corpus = docs_with_near_dups(spark, sf_dir)
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/docs"
        # id-ordered files so arrival order tracks doc_id order: file
        # sources list in path order, so name files by id range
        for i, (lo, hi) in enumerate([(0, 120), (120, 260), (260, 10**9)]):
            corpus.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}")
        schema = corpus.schema
        streams = [
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b{i}")
            for i in range(3)
        ]
        idx = StreamingDedupIndex(spark, f"{tmp}/state", threshold=0.8)
        # run the three ranges as successive streams against ONE state
        # dir (arrival order must be id order for the batch-rule pin)
        for i, st in enumerate(streams):
            q = idx.start(st, f"{tmp}/ckpt{i}")
            q.processAllAvailable()
            q.stop()
        accepted = {r.doc_id for r in idx.accepted_ids().collect()}

    pairs = dedup.jaccard_pairs(corpus, 0.8).toPandas()
    expected = {
        r.doc_id for r in corpus.select("doc_id").collect()
    } - set(pairs.b_id)
    assert accepted == expected


def test_cdc_replication_example_end_to_end(spark, sf_dir):
    """examples/cdc_replication.py: streamed replica digest equals the
    direct materialization digest, and every state row publishes as a
    decodable Avro wire frame."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "cdc_replication",
        os.path.join(os.path.dirname(__file__), "..", "examples",
                     "cdc_replication.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.run(spark, sf_dir)
    assert out["verified"] is True
    assert out["n_frames"] == out["n_decoded"] == out["digest_direct"]["n"]


def test_multi_table_materializer_routes_one_stream(spark, sf_dir):
    """One interleaved customer+orders stream through ONE foreachBatch
    consumer: each table's streamed state must equal its direct batch
    materialization."""
    import pandas as pd

    from bottledwater_pg_spark.operators.cdc_queries import (
        CUSTOMER_SPEC,
        ORDERS_SPEC,
    )
    from bottledwater_pg_spark.streaming.stream import MultiTableMaterializer

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    stream = generate_cdc(
        cust, ["c_custkey"], F.col("c_custkey"), 16385, "customer",
        CUSTOMER_SPEC,
    ).unionByName(
        generate_cdc(
            orders, ["o_orderkey"], F.col("o_orderkey"), 16388, "orders",
            ORDERS_SPEC,
        )
    )
    want_cust = materialize(
        stream.filter(F.col("relid") == 16385), cust.schema
    ).toPandas().sort_values("c_custkey").reset_index(drop=True)
    want_ord = materialize(
        stream.filter(F.col("relid") == 16388), orders.schema
    ).toPandas().sort_values("o_orderkey").reset_index(drop=True)

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events"
        write_envelope_stream(stream, src, num_files=4)
        st = read_envelope_stream(spark, src, files_per_trigger=2)
        mat = MultiTableMaterializer(
            spark, f"{tmp}/state",
            {16385: ("customer", cust.schema), 16388: ("orders", orders.schema)},
        )
        q = mat.start(st, f"{tmp}/ckpt")
        q.processAllAvailable()
        q.stop()
        got_cust = mat.current_rows(16385).toPandas().sort_values(
            "c_custkey").reset_index(drop=True)
        got_ord = mat.current_rows(16388).toPandas().sort_values(
            "o_orderkey").reset_index(drop=True)

    pd.testing.assert_frame_equal(
        got_cust[want_cust.columns.tolist()], want_cust, check_dtype=False
    )
    pd.testing.assert_frame_equal(
        got_ord[want_ord.columns.tolist()], want_ord, check_dtype=False
    )


def test_streaming_dedup_index_survives_process_restart(spark, sf_dir, tmp_path):
    """A NEW StreamingDedupIndex instance over an existing state_dir
    (the process-restart scenario start()'s checkpointLocation exists
    for) must probe the standing index from its FIRST batch — a
    near-duplicate of an already-indexed doc is rejected, not
    re-accepted. Also: an empty pre-created state dir (crash before
    any batch) must NOT count as state."""
    from pyspark.sql import functions as F

    from bottledwater_pg_spark.operators.llm_queries import (
        docs_with_near_dups,
    )
    from bottledwater_pg_spark.streaming.stream import StreamingDedupIndex

    state = str(tmp_path / "restart_state")
    corpus = docs_with_near_dups(spark, sf_dir)
    first = corpus.filter(F.col("doc_id") < 200)
    idx1 = StreamingDedupIndex(spark, state, threshold=0.8)
    # empty dirs exist but hold no parquet yet -> no state claimed
    assert not idx1._have_index and not idx1._have_accepted
    idx1.process_batch(first, 0)
    accepted_before = {r.doc_id for r in idx1.accepted_ids().collect()}

    # simulated restart: fresh instance, same state_dir
    idx2 = StreamingDedupIndex(spark, state, threshold=0.8)
    assert idx2._have_index and idx2._have_accepted
    # near-dups of batch-1 docs (the injected +200000 twins whose
    # originals are already in the index) must be rejected by the
    # restarted instance's first batch
    twins = corpus.filter(
        (F.col("doc_id") >= 200000) & (F.col("doc_id") - 200000 < 200)
    )
    n_twins = twins.count()
    assert n_twins > 0
    idx2.process_batch(twins, 1)
    accepted_after = {r.doc_id for r in idx2.accepted_ids().collect()}
    newly = accepted_after - accepted_before
    assert not {d for d in newly if d >= 200000 and d - 200000 in
                accepted_before}, newly


# ---------------- true-streaming DDL matrix (topic_spec.rb:113-274
# runs the reference's crash/evolution matrix against the LIVE stream;
# these twins pin each cell's final streamed state equal to the batch
# DDL query's result)


def _run_drift_stream(spark, tmp, phases, row_schema, relid):
    """Write each phase as one parquet file (one micro-batch each,
    arriving in order), stream them through a drift-aware
    StreamingMaterializer, and return it."""
    from bottledwater_pg_spark.streaming.stream import (
        StreamingMaterializer,
        read_envelope_stream,
    )

    src = f"{tmp}/events"
    for i, phase_df in enumerate(phases):
        phase_df.coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    mat = StreamingMaterializer(spark, f"{tmp}/state", row_schema,
                                relid=relid)
    q = mat.start(
        read_envelope_stream(spark, src, files_per_trigger=1),
        f"{tmp}/ckpt",
    )
    q.processAllAvailable()
    q.stop()
    return mat


def _assert_same_rows(got_df, want_df, sort_cols):
    import pandas as pd

    got = got_df.toPandas()
    want = want_df.toPandas()
    cols = sorted(want.columns)
    got = got[cols].sort_values(sort_cols).reset_index(drop=True)
    want = want[cols].sort_values(sort_cols).reset_index(drop=True)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_ddl_widen_matches_batch(spark, sf_dir):
    """ALTER COLUMN TYPE widening through the live stream: v1 int
    payloads and v2 bigint payloads arrive in separate micro-batches;
    the per-batch re-resolved schema decodes the final state uniformly
    bigint — equal to the batch widen query."""
    from bottledwater_pg_spark.operators.cdc_queries import (
        cdc_schema_evolution_widen,
    )
    from bottledwater_pg_spark.schema_tracker import table_schema_events
    from bottledwater_pg_spark.sources.generator import snapshot_events

    relid = 16395
    v1_base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name",
        (F.col("c_custkey") % 1000).cast("int").alias("c_points"),
    )
    v1 = table_schema_events(v1_base, relid, "customer", lsn=0).unionByName(
        snapshot_events(v1_base, ["c_custkey"], F.col("c_custkey"), relid,
                        "customer")
    )
    v2_base = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 5 == 0
    ).select(
        "c_custkey", "c_name",
        (F.col("c_custkey") % 1000 + F.lit(5_000_000_000))
        .cast("long").alias("c_points"),
    )
    v2 = table_schema_events(v2_base, relid, "customer", lsn=1).unionByName(
        snapshot_events(v2_base, ["c_custkey"], F.col("c_custkey"), relid,
                        "customer")
        .withColumn("lsn", F.col("lsn") + 1)
        .withColumn("op", F.lit("update"))
    )
    with tempfile.TemporaryDirectory() as tmp:
        mat = _run_drift_stream(spark, tmp, [v1, v2], v1_base.schema, relid)
        assert len(mat.tracker.versions[relid]) == 2
        assert dict(mat.current_schema()["c_points"].jsonValue())["type"] \
            == "long"
        _assert_same_rows(
            mat.current_rows().select("c_custkey", "c_name", "c_points"),
            cdc_schema_evolution_widen(spark, sf_dir),
            ["c_custkey"],
        )


def test_streaming_ddl_rename_matches_batch(spark, sf_dir):
    """ALTER TABLE RENAME through the live stream: post-rename updates
    arrive in a later micro-batch routed to the new topic; the state
    (keyed on relid, continuous across the rename) reports the new
    topic exactly for re-touched keys — equal to the batch query."""
    from bottledwater_pg_spark.operators.cdc_queries import (
        cdc_schema_evolution_rename,
    )
    from bottledwater_pg_spark.schema_tracker import table_schema_events
    from bottledwater_pg_spark.sources.generator import snapshot_events

    relid = 16393
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    v1 = table_schema_events(base, relid, "custmr", lsn=0).unionByName(
        snapshot_events(base, ["c_custkey"], F.col("c_custkey"), relid,
                        "custmr")
    )
    upd_base = base.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey", "c_name",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
    )
    v2 = table_schema_events(base, relid, "customer_renamed", lsn=1).unionByName(
        snapshot_events(upd_base, ["c_custkey"], F.col("c_custkey"), relid,
                        "customer_renamed")
        .withColumn("lsn", F.col("lsn") + 1)
        .withColumn("op", F.lit("update"))
    )
    with tempfile.TemporaryDirectory() as tmp:
        mat = _run_drift_stream(spark, tmp, [v1, v2], base.schema, relid)
        _assert_same_rows(
            mat.current_rows(with_topic=True),
            cdc_schema_evolution_rename(spark, sf_dir),
            ["c_custkey"],
        )


def test_streaming_ddl_zero_column_matches_batch(spark, sf_dir):
    """Zero-column table through the live stream: unkeyed empty-record
    inserts are retained append-only and decode as null-dummy rows —
    equal to the batch zero-column query (schema_spec.rb:359-467)."""
    from bottledwater_pg_spark.operators.cdc_queries import (
        cdc_zero_column_table,
    )
    from bottledwater_pg_spark.plans.envelope import ENVELOPE_SCHEMA
    from bottledwater_pg_spark.types import schema_for_pg_columns

    relid = 16394
    dummy_schema = schema_for_pg_columns([])
    ctl = spark.createDataFrame(
        [("table_schema", relid, 0, 0, None, None, None,
          dummy_schema.json(), "empty_table")],
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
    half = F.col("lsn") % 20 == 0
    with tempfile.TemporaryDirectory() as tmp:
        mat = _run_drift_stream(
            spark, tmp,
            [ctl.unionByName(rows.filter(half)), rows.filter(~half)],
            dummy_schema, relid,
        )
        assert mat.current_rows().count() == 0  # nothing keyed
        _assert_same_rows(
            mat.unkeyed_rows(),
            cdc_zero_column_table(spark, sf_dir),
            ["dummy"],
        )


def test_streaming_ddl_add_pk_matches_batch(spark, sf_dir):
    """ADD PRIMARY KEY mid-stream through the live stream
    (topic_spec.rb:245-274): phase 1 streams unkeyed (retained
    append-only), the v2 TableSchema lands in a later micro-batch,
    phase 2 streams keyed inserts/updates/deletes that compact — the
    union equals the batch ADD-PK query."""
    from bottledwater_pg_spark.operators.cdc_queries import (
        cdc_add_primary_key_midstream,
    )
    from bottledwater_pg_spark.schema_tracker import table_schema_events
    from bottledwater_pg_spark.sources.generator import snapshot_events

    relid = 16396
    k = F.col("o_orderkey")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    v1_base = base.filter(k % 2 == 1).select(
        "o_custkey", "o_orderstatus", "o_totalprice"
    )
    v1 = table_schema_events(v1_base, relid, "orders", lsn=0).unionByName(
        snapshot_events(v1_base, [], F.col("o_custkey"), relid, "orders")
    )
    v2_base = base.filter(k % 2 == 0)
    v2_sched = table_schema_events(v2_base, relid, "orders", lsn=1)
    v2_ins = snapshot_events(
        v2_base, ["o_orderkey"], k, relid, "orders"
    ).withColumn("lsn", F.col("lsn") + 5)
    v2_upd = (
        snapshot_events(
            v2_base.filter(k % 6 == 0).withColumn("o_orderstatus",
                                                  F.lit("X")),
            ["o_orderkey"], k, relid, "orders",
        )
        .withColumn("lsn", F.col("lsn") + 6)
        .withColumn("op", F.lit("update"))
    )
    v2_del = (
        snapshot_events(
            v2_base.filter(k % 10 == 0), ["o_orderkey"], k, relid, "orders"
        )
        .withColumn("lsn", F.col("lsn") + 7)
        .withColumn("op", F.lit("delete"))
        .withColumn("new_row", F.lit(None).cast("string"))
    )
    with tempfile.TemporaryDirectory() as tmp:
        mat = _run_drift_stream(
            spark, tmp,
            [v1, v2_sched.unionByName(v2_ins), v2_upd.unionByName(v2_del)],
            v1_base.schema, relid,
        )
        got = mat.unkeyed_rows().select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        ).unionByName(
            mat.current_rows().select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
            )
        )
        _assert_same_rows(
            got,
            cdc_add_primary_key_midstream(spark, sf_dir),
            ["o_orderkey", "o_custkey", "o_totalprice"],
        )


def test_multi_table_materializer_50_table_soak(spark, sf_dir):
    """Many-table routing soak — the reference's core promise is
    streaming EVERY table in the database through one slot
    (snapshot.c:199-298). 50 synthetic tables (customer sliced by a
    stable key hash) interleave through ONE MultiTableMaterializer;
    three sampled tables must equal their direct batch
    materialization, and every registered table must hold state."""
    import pandas as pd

    from bottledwater_pg_spark.operators.cdc_queries import CUSTOMER_SPEC
    from bottledwater_pg_spark.streaming.stream import MultiTableMaterializer

    n_tables = 50
    cust = load_table(spark, sf_dir, "customer")
    base = generate_cdc(
        cust, ["c_custkey"], F.col("c_custkey"), 0, "t", CUSTOMER_SPEC
    )
    # stable per-key slice: tombstones share their row's table; a
    # pk-change's delete/insert may land in different tables, which is
    # exactly what a per-table consumer would see
    stream = base.withColumn(
        "relid",
        (F.lit(20000) + F.pmod(F.xxhash64("key"), F.lit(n_tables)))
        .cast("long"),
    ).withColumn(
        "topic", F.concat(F.lit("t"), (F.col("relid") - 20000))
    )
    tables = {
        20000 + i: (f"t{i}", cust.schema) for i in range(n_tables)
    }
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events"
        write_envelope_stream(stream, src, num_files=4)
        mat = MultiTableMaterializer(spark, f"{tmp}/state", tables)
        q = mat.start(
            read_envelope_stream(spark, src, files_per_trigger=2),
            f"{tmp}/ckpt",
        )
        q.processAllAvailable()
        q.stop()
        stream_p = stream.persist()
        try:
            # sample the 3 busiest tables for full parity (at tiny SF
            # some of the 50 slices legitimately see zero events)
            busiest = [
                r["relid"]
                for r in stream_p.groupBy("relid").count()
                .orderBy(F.desc("count"), "relid").limit(3).collect()
            ]
            for relid in busiest:
                want = materialize(
                    stream_p.filter(F.col("relid") == relid), cust.schema
                ).toPandas().sort_values("c_custkey").reset_index(drop=True)
                got = mat.current_rows(relid).toPandas().sort_values(
                    "c_custkey").reset_index(drop=True)
                assert len(want) > 0
                pd.testing.assert_frame_equal(
                    got[want.columns.tolist()], want, check_dtype=False
                )
            # every table that saw a DML event holds state
            touched = {
                r["relid"]
                for r in stream_p.select("relid").distinct().collect()
            }
            missing = [
                r for r in tables
                if r in touched and mat.current_rows(r) is None
            ]
            assert not missing
            assert len(touched) >= 40  # the slicing really spreads
        finally:
            stream_p.unpersist()


def test_expire_tombstones_bounds_state_to_live_keys(spark, sf_dir):
    """State-growth guard (message_spec.rb:183-189 analog): after a
    delete-heavy stream, the compacted state holds live keys PLUS a
    tombstone per deleted key; expiring tombstones up to the replay
    horizon returns state to exactly the live keys, and an lsn-bounded
    expiry keeps newer tombstones (the resurrection guard)."""
    import pytest

    from bottledwater_pg_spark.operators.cdc_queries import CUSTOMER_SPEC
    from bottledwater_pg_spark.streaming.stream import StreamingMaterializer

    cust = load_table(spark, sf_dir, "customer")
    events = generate_cdc(
        cust, ["c_custkey"], F.col("c_custkey"), 16385, "customer",
        CUSTOMER_SPEC,
    )
    with tempfile.TemporaryDirectory() as tmp:
        mat = StreamingMaterializer(spark, f"{tmp}/state", cust.schema)
        mat.process_batch(events, 0)
        live = mat.current_rows().count()
        total = mat.read_state().count()
        n_tomb = total - live
        assert n_tomb > 0  # the spec deletes k%7 keys
        # lsn-bounded expiry: only tombstones at/below the horizon go
        horizon = mat.read_state().filter(
            F.col("op") == "delete"
        ).agg(F.expr("percentile(lsn, 0.5)").cast("long")).collect()[0][0]
        dropped = mat.expire_tombstones(up_to_lsn=int(horizon))
        assert 0 < dropped < n_tomb
        # full expiry needs the explicit 'all' sentinel (the generator
        # is finished — no producer can re-deliver); a bare call or a
        # random string must be refused
        with pytest.raises(TypeError):
            mat.expire_tombstones()
        with pytest.raises(ValueError):
            mat.expire_tombstones("everything")
        # None (the old implicit default) would make `lsn <= NULL`
        # NULL-out the doomed predicate and silently drop EVERY
        # tombstone — it must be refused like any non-int non-sentinel
        with pytest.raises(TypeError):
            mat.expire_tombstones(None)
        with pytest.raises(TypeError):
            mat.expire_tombstones(True)
        with pytest.raises(TypeError):
            mat.expire_tombstones(1.5)
        assert mat.read_state().count() == live + (n_tomb - dropped)
        dropped2 = mat.expire_tombstones("all")
        assert dropped + dropped2 == n_tomb
        assert mat.read_state().count() == live
        # the surviving rows still decode to the same materialized view
        assert mat.current_rows().count() == live


def test_multi_table_drift_evolves_each_table_independently(spark, sf_dir):
    """Whole-database deployment + DDL drift: two tables stream through
    ONE MultiTableMaterializer in drift mode; table A adds a column
    mid-stream while table B's schema never changes — A's state decodes
    under its NEWEST schema (pre-drift rows null for the added column),
    B's is untouched, and neither tracker sees the other's control
    events."""
    import pandas as pd

    from bottledwater_pg_spark.schema_tracker import table_schema_events
    from bottledwater_pg_spark.sources.generator import snapshot_events
    from bottledwater_pg_spark.streaming.stream import MultiTableMaterializer

    ra, rb = 31001, 31002
    a1 = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    a2 = a1.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_name", F.lit("gold").alias("c_tier")
    )
    b = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    phase1 = (
        table_schema_events(a1, ra, "cust_a", lsn=0)
        .unionByName(snapshot_events(a1, ["c_custkey"], F.col("c_custkey"),
                                     ra, "cust_a"))
        .unionByName(table_schema_events(b, rb, "nation_b", lsn=0))
        .unionByName(snapshot_events(b, ["n_nationkey"],
                                     F.col("n_nationkey"), rb, "nation_b"))
    )
    phase2 = table_schema_events(a2, ra, "cust_a", lsn=1).unionByName(
        snapshot_events(a2, ["c_custkey"], F.col("c_custkey"), ra, "cust_a")
        .withColumn("lsn", F.col("lsn") + 1)
        .withColumn("op", F.lit("update"))
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events"
        phase1.coalesce(1).write.parquet(src)
        phase2.coalesce(1).write.mode("append").parquet(src)
        from bottledwater_pg_spark.streaming.stream import (
            read_envelope_stream,
        )

        mat = MultiTableMaterializer(
            spark, f"{tmp}/state",
            {ra: ("cust_a", a1.schema), rb: ("nation_b", b.schema)},
            track_drift=True,
        )
        q = mat.start(read_envelope_stream(spark, src, files_per_trigger=1),
                      f"{tmp}/ckpt")
        q.processAllAvailable()
        q.stop()
        # A evolved: newest schema has c_tier; only re-touched rows carry it
        assert len(mat.mats[ra].tracker.versions[ra]) == 2
        assert rb not in mat.mats[ra].tracker.versions
        assert len(mat.mats[rb].tracker.versions[rb]) == 1
        got_a = mat.current_rows(ra).toPandas()
        assert "c_tier" in got_a.columns
        touched = got_a[got_a.c_custkey % 3 == 0]
        untouched = got_a[got_a.c_custkey % 3 != 0]
        assert len(touched) and (touched.c_tier == "gold").all()
        assert len(untouched) and untouched.c_tier.isna().all()
        # B unaffected
        got_b = mat.current_rows(rb).toPandas().sort_values("n_nationkey")
        want_b = b.toPandas().sort_values("n_nationkey")
        pd.testing.assert_frame_equal(
            got_b[want_b.columns.tolist()].reset_index(drop=True),
            want_b.reset_index(drop=True), check_dtype=False,
        )


def test_crash_mid_batch_replay_is_state_safe(spark, sf_dir):
    """Crash DURING a micro-batch (the reference crash matrix kills
    bottledwater mid-stream, topic_spec.rb:113-274): a fault injected
    AFTER the new state file is written but BEFORE the swap completes
    fails the streaming query; a restarted query with the same
    checkpoint replays that batch against the half-advanced on-disk
    state, and the lsn-max idempotent merge still converges to the
    batch-materialization state — no duplicates, no lost deletes."""
    from bottledwater_pg_spark.streaming.stream import (
        StreamingMaterializer,
        read_envelope_stream,
        write_envelope_stream,
    )

    cust = load_table(spark, sf_dir, "customer")
    events = generate_cdc(
        cust, ["c_custkey"], F.col("c_custkey"), 16385, "customer", SPEC
    )
    want = materialize(events, cust.schema).toPandas().sort_values(
        "c_custkey"
    ).reset_index(drop=True)

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events"
        write_envelope_stream(events, src, num_files=4)
        mat = StreamingMaterializer(spark, f"{tmp}/state", cust.schema)
        orig = mat.process_batch
        crashed = {"n": 0}

        def faulty(batch, epoch_id):
            orig(batch, epoch_id)
            # crash AFTER the swap of epoch 1's state: the state on
            # disk is ahead of the (never-committed) checkpoint offset
            if epoch_id == 1 and not crashed["n"]:
                crashed["n"] = 1
                raise RuntimeError("injected crash after state swap")

        mat.process_batch = faulty
        q = mat.start(read_envelope_stream(spark, src, 1), f"{tmp}/ckpt")
        try:
            q.processAllAvailable()
        except Exception:
            pass
        finally:
            q.stop()
        assert crashed["n"] == 1
        # restart with the SAME checkpoint: epoch 1 replays onto the
        # already-advanced state, then the remaining files stream
        mat.process_batch = orig
        q2 = mat.start(read_envelope_stream(spark, src, 1), f"{tmp}/ckpt")
        q2.processAllAvailable()
        q2.stop()
        got = mat.current_rows().toPandas().sort_values(
            "c_custkey"
        ).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(
        got[want.columns.tolist()], want, check_dtype=False
    )


def test_crash_between_schema_re_resolution_and_swap_converges(spark, sf_dir):
    """Crash INSIDE the drift micro-batch that carries a DDL widen —
    AFTER the in-band schema re-resolution durably recorded the new
    version (drift_meta.json written) but BEFORE the state swap
    promoted the batch's rows (the reference crash matrix kills
    bottledwater around ALTERs under both error policies,
    topic_spec.rb:113-274). The restarted query must replay that batch
    against the already-v2-aware tracker (observe() is idempotent for
    a re-seen version) and converge to the batch widen oracle — under
    BOTH on_error modes, since the announcement is valid."""
    import json as _json

    import pandas as pd

    from bottledwater_pg_spark.operators.cdc_queries import (
        cdc_schema_evolution_widen,
    )
    from bottledwater_pg_spark.schema_tracker import table_schema_events
    from bottledwater_pg_spark.sources.generator import snapshot_events
    from bottledwater_pg_spark.streaming.stream import (
        StreamingMaterializer,
        read_envelope_stream,
    )

    relid = 32007
    v1_base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name",
        (F.col("c_custkey") % 1000).cast("int").alias("c_points"),
    )
    v1 = table_schema_events(v1_base, relid, "customer", lsn=0).unionByName(
        snapshot_events(v1_base, ["c_custkey"], F.col("c_custkey"), relid,
                        "customer")
    )
    v2_base = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 5 == 0
    ).select(
        "c_custkey", "c_name",
        (F.col("c_custkey") % 1000 + F.lit(5_000_000_000))
        .cast("long").alias("c_points"),
    )
    v2 = table_schema_events(v2_base, relid, "customer", lsn=1).unionByName(
        snapshot_events(v2_base, ["c_custkey"], F.col("c_custkey"), relid,
                        "customer")
        .withColumn("lsn", F.col("lsn") + 1)
        .withColumn("op", F.lit("update"))
    )
    want = cdc_schema_evolution_widen(spark, sf_dir).toPandas().sort_values(
        "c_custkey"
    ).reset_index(drop=True)

    for policy in ("exit", "log"):
        with tempfile.TemporaryDirectory() as tmp:
            src = f"{tmp}/events"
            v1.coalesce(1).write.parquet(src)
            v2.coalesce(1).write.mode("append").parquet(src)
            mat = StreamingMaterializer(
                spark, f"{tmp}/state", v1_base.schema, relid=relid,
                on_error=policy,
            )
            orig_commit = mat._commit_state
            crashed = {"n": 0}
            ncalls = {"n": 0}

            def faulty_commit(df, _orig=orig_commit, _c=crashed,
                              _k=ncalls):
                # the v2 batch (epoch 1, second commit): die after
                # re-resolution, before its state promotion
                _k["n"] += 1
                if _k["n"] == 2 and not _c["n"]:
                    _c["n"] = 1
                    raise RuntimeError(
                        "injected crash between re-resolution and commit"
                    )
                _orig(df)

            mat._commit_state = faulty_commit
            q = mat.start(read_envelope_stream(spark, src, 1), f"{tmp}/ckpt")
            try:
                q.processAllAvailable()
            except Exception:
                pass
            finally:
                q.stop()
            assert crashed["n"] == 1
            # the crash window's contract: the NEW schema version is
            # already durable, the state is not
            meta = _json.load(open(f"{tmp}/state/drift_meta.json"))
            assert len(meta["versions"][str(relid)]) == 2
            # restart: fresh instance (process restart), same
            # checkpoint — epoch 1 replays with the v2-aware tracker
            mat2 = StreamingMaterializer(
                spark, f"{tmp}/state", v1_base.schema, relid=relid,
                on_error=policy,
            )
            q2 = mat2.start(
                read_envelope_stream(spark, src, 1), f"{tmp}/ckpt"
            )
            q2.processAllAvailable()
            q2.stop()
            assert len(mat2.tracker.versions[relid]) == 2
            got = (
                mat2.current_rows()
                .select("c_custkey", "c_name", "c_points")
                .toPandas()
                .sort_values("c_custkey")
                .reset_index(drop=True)
            )
            pd.testing.assert_frame_equal(
                got[want.columns.tolist()], want, check_dtype=False
            )


def test_crash_after_poison_lsn_recorded_before_swap(spark, sf_dir):
    """Crash in the SAME window during a POISONED announcement under
    on_error=log: the failed_at_lsn cursor is already durable, the
    state swap never ran. The restarted query must keep dropping the
    table's events from the poison lsn (cursor reloaded from
    drift_meta, not re-derived from replayed control events) and
    converge to the pre-DDL snapshot — the reference's log policy
    keeps the pipe alive minus the failed table
    (table_mapper.c:88-118)."""
    import pandas as pd

    from bottledwater_pg_spark.schema_tracker import table_schema_events
    from bottledwater_pg_spark.sources.generator import snapshot_events
    from bottledwater_pg_spark.streaming.stream import (
        StreamingMaterializer,
        read_envelope_stream,
    )

    relid = 32008
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    phase1 = table_schema_events(base, relid, "customer", lsn=0).unionByName(
        snapshot_events(base, ["c_custkey"], F.col("c_custkey"), relid,
                        "customer")
    )
    poison = phase1.limit(1).select(
        F.lit("table_schema").alias("op"), "relid", "xid",
        F.lit(1 << 62).cast("long").alias("lsn"),
        "key", "old_row", "new_row",
        F.lit('{"not": a schema').alias("schema_json"), "topic",
    )
    post = (
        snapshot_events(
            base.withColumn("c_acctbal", F.col("c_acctbal") + 999),
            ["c_custkey"], F.col("c_custkey"), relid, "customer",
        )
        .withColumn("lsn", F.col("lsn") + (1 << 62) + 1)
        .withColumn("op", F.lit("update"))
    )
    phase2 = poison.unionByName(post)
    want = base.toPandas().sort_values("c_custkey").reset_index(drop=True)

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events"
        phase1.coalesce(1).write.parquet(src)
        phase2.coalesce(1).write.mode("append").parquet(src)
        mat = StreamingMaterializer(
            spark, f"{tmp}/state", base.schema, relid=relid, on_error="log",
        )
        orig_commit = mat._commit_state
        crashed = {"n": 0}
        ncalls = {"n": 0}

        def faulty_commit(df, _orig=orig_commit, _c=crashed, _k=ncalls):
            _k["n"] += 1
            if _k["n"] == 2 and not _c["n"]:
                _c["n"] = 1
                raise RuntimeError("injected crash after poison cursor")
            _orig(df)

        mat._commit_state = faulty_commit
        q = mat.start(read_envelope_stream(spark, src, 1), f"{tmp}/ckpt")
        try:
            q.processAllAvailable()
        except Exception:
            pass
        finally:
            q.stop()
        assert crashed["n"] == 1
        mat2 = StreamingMaterializer(
            spark, f"{tmp}/state", base.schema, relid=relid, on_error="log",
        )
        # the poison cursor survived the crash via drift_meta
        assert mat2.failed_at_lsn == 1 << 62
        q2 = mat2.start(read_envelope_stream(spark, src, 1), f"{tmp}/ckpt")
        q2.processAllAvailable()
        q2.stop()
        got = mat2.current_rows().toPandas().sort_values(
            "c_custkey"
        ).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got[want.columns.tolist()], want, check_dtype=False
        )


def test_streaming_contamination_screen_matches_batch(spark, sf_dir):
    """The always-on Bloom screen must flag, across micro-batches and
    a restart (standing bitmap reloaded from disk), exactly the docs
    the batch screen flags, with identical per-doc counts."""
    import pandas as pd

    from bottledwater_pg_spark.operators.llm_queries import (
        NGRAM_CONTAM_N,
        bloom_contamination_screen,
    )
    from bottledwater_pg_spark.streaming.stream import (
        StreamingContaminationScreen,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_set = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 500000).alias("eval_id"),
        F.col("text"),
    )
    contam = docs.filter(F.col("doc_id") % 27 == 0).select(
        (F.col("doc_id") + 600000).alias("doc_id"), "text"
    )
    train = docs.filter(F.col("doc_id") % 9 != 0).unionByName(contam)
    want = (
        bloom_contamination_screen(spark, sf_dir)
        .select("doc_id", "n_flagged")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/docs"
        train.repartition(3).write.parquet(src)
        screen = StreamingContaminationScreen(
            spark, f"{tmp}/state",
            eval_docs=eval_set, n=NGRAM_CONTAM_N,
        )
        # restart scenario: a NEW instance must reuse the on-disk
        # bitmap without eval_docs
        screen = StreamingContaminationScreen(spark, f"{tmp}/state")
        stream = (
            spark.readStream.schema(train.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = screen.start(stream, f"{tmp}/ckpt")
        q.processAllAvailable()
        q.stop()
        got = (
            screen.audit()
            .filter(F.col("n_flagged") > 0)
            .select("doc_id", "n_flagged")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_contamination_screen_rebuilds_on_hash_family_change(spark, sf_dir):
    """A standing bitmap built under a DIFFERENT Bloom hash family is
    guaranteed-wrong to probe (false negatives for essentially every
    contaminated doc), so the screen must rebuild it when eval_docs is
    at hand and refuse loudly when not — never silently load it. The
    family tag in meta.json is the enforcement point."""
    import json

    import pytest

    from bottledwater_pg_spark.operators.llm_queries import (
        BLOOM_HASH_FAMILY,
        NGRAM_CONTAM_N,
    )
    from bottledwater_pg_spark.streaming.stream import (
        StreamingContaminationScreen,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_set = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 500000).alias("eval_id"), F.col("text")
    )
    with tempfile.TemporaryDirectory() as tmp:
        state = f"{tmp}/state"
        StreamingContaminationScreen(
            spark, state, eval_docs=eval_set, n=NGRAM_CONTAM_N
        )
        meta_path = f"{state}/meta.json"
        with open(meta_path) as f:
            meta = json.load(f)
        assert meta["hash_family"] == BLOOM_HASH_FAMILY
        # simulate a bitmap persisted by a pre-r9 incarnation
        meta["hash_family"] = "seeded-md5/legacy"
        with open(meta_path, "w") as f:
            json.dump(meta, f)
        # no eval corpus -> probing would be silently wrong: refuse
        with pytest.raises(LookupError, match="hash family"):
            StreamingContaminationScreen(spark, state)
        # eval corpus at hand -> rebuild under the current family
        StreamingContaminationScreen(
            spark, state, eval_docs=eval_set, n=NGRAM_CONTAM_N
        )
        with open(meta_path) as f:
            assert json.load(f)["hash_family"] == BLOOM_HASH_FAMILY
        # and the rebuilt state loads clean without eval_docs
        StreamingContaminationScreen(spark, state)


def test_streaming_error_policy_log_and_exit(spark, sf_dir):
    """The error policy runs against the LIVE stream (the reference's
    crash matrix composes --on-error with evolution,
    table_mapper.c:88-118): a poisoned TableSchema arriving mid-stream
    under ``log`` drops that table's subsequent events — final state =
    the pre-DDL snapshot — while under ``exit`` the streaming query
    FAILS with the already-committed state intact."""
    from bottledwater_pg_spark.schema_tracker import table_schema_events
    from bottledwater_pg_spark.sources.generator import snapshot_events
    from bottledwater_pg_spark.streaming.stream import (
        StreamingMaterializer,
        read_envelope_stream,
    )

    relid = 32001
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    phase1 = table_schema_events(base, relid, "customer", lsn=0).unionByName(
        snapshot_events(base, ["c_custkey"], F.col("c_custkey"), relid,
                        "customer")
    )
    poison = phase1.limit(1).select(
        F.lit("table_schema").alias("op"), "relid", "xid",
        F.lit(1 << 62).cast("long").alias("lsn"),
        "key", "old_row", "new_row",
        F.lit('{"not": a schema').alias("schema_json"), "topic",
    )
    post = (
        snapshot_events(
            base.withColumn("c_acctbal", F.col("c_acctbal") + 999),
            ["c_custkey"], F.col("c_custkey"), relid, "customer",
        )
        .withColumn("lsn", F.col("lsn") + (1 << 62) + 1)
        .withColumn("op", F.lit("update"))
    )
    phase2 = poison.unionByName(post)
    want = base.toPandas().sort_values("c_custkey").reset_index(drop=True)
    import pandas as pd

    for policy in ("log", "exit"):
        with tempfile.TemporaryDirectory() as tmp:
            src = f"{tmp}/events"
            phase1.coalesce(1).write.parquet(src)
            phase2.coalesce(1).write.mode("append").parquet(src)
            mat = StreamingMaterializer(
                spark, f"{tmp}/state", base.schema, relid=relid,
                on_error=policy,
            )
            q = mat.start(read_envelope_stream(spark, src, 1), f"{tmp}/ckpt")
            failed = False
            try:
                q.processAllAvailable()
            except Exception:
                failed = True
            finally:
                q.stop()
            got = mat.current_rows().toPandas().sort_values(
                "c_custkey"
            ).reset_index(drop=True)
            if policy == "log":
                assert not failed
                assert mat.failed_at_lsn == 1 << 62
            else:
                assert failed  # policy=exit fails the query loudly
            # both policies: state is exactly the pre-DDL snapshot —
            # no poisoned-era update ever applied
            pd.testing.assert_frame_equal(
                got[want.columns.tolist()], want, check_dtype=False
            )


def test_materializer_process_restart_merges_into_standing_state(
    spark, sf_dir, tmp_path
):
    """A NEW StreamingMaterializer instance over an existing state_dir
    (process restart: checkpoint committed, batches NOT replayed) must
    MERGE its first batch into the standing state, not replace it —
    and drift metadata (schema versions, error-policy cursor) must
    survive the restart too."""
    import pandas as pd

    from bottledwater_pg_spark.schema_tracker import table_schema_events
    from bottledwater_pg_spark.sources.generator import snapshot_events
    from bottledwater_pg_spark.streaming.stream import StreamingMaterializer

    relid = 33001
    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    v2_base = base.select(
        "c_custkey", "c_name", F.lit("x").alias("c_extra")
    )
    half_a = base.filter(F.col("c_custkey") % 2 == 0)
    half_b = base.filter(F.col("c_custkey") % 2 == 1)
    state_dir = str(tmp_path / "state")

    mat1 = StreamingMaterializer(spark, state_dir, base.schema, relid=relid)
    mat1.process_batch(
        table_schema_events(base, relid, "customer", lsn=0).unionByName(
            table_schema_events(v2_base, relid, "customer", lsn=1)
        ).unionByName(
            snapshot_events(half_a, ["c_custkey"], F.col("c_custkey"),
                            relid, "customer")
        ),
        0,
    )
    n_first = mat1.current_rows().count()
    assert n_first == half_a.count()
    del mat1

    # process restart: fresh instance, same state_dir; the committed
    # batch 0 is NOT replayed — only batch 1 arrives
    mat2 = StreamingMaterializer(spark, state_dir, base.schema, relid=relid)
    # drift metadata reloaded: both schema versions visible, newest has
    # the added column
    assert len(mat2.tracker.versions[relid]) == 2
    assert "c_extra" in mat2.current_schema().fieldNames()
    mat2.process_batch(
        snapshot_events(half_b, ["c_custkey"], F.col("c_custkey"),
                        relid, "customer"),
        1,
    )
    got = mat2.current_rows().select("c_custkey", "c_name").toPandas()
    want = base.toPandas()
    got = got.sort_values("c_custkey").reset_index(drop=True)
    want = want.sort_values("c_custkey").reset_index(drop=True)
    assert len(got) == len(want)  # NOT just half_b — state merged
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want,
                                  check_dtype=False)


def test_materializer_adopts_legacy_swap_layouts(spark, sf_dir, tmp_path):
    """Pre-r13 state layouts (the rename-swap machinery's 'state' dir,
    including a crash between its two renames: state moved to .old,
    replacement never promoted) must be adopted by the manifest-commit
    discipline: recovered on construction, served as current state,
    and garbage-collected by the first new commit."""
    import os as _os
    import shutil as _shutil

    from bottledwater_pg_spark.sources.generator import snapshot_events
    from bottledwater_pg_spark.streaming.stream import StreamingMaterializer

    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    state_dir = str(tmp_path / "state")
    mat = StreamingMaterializer(spark, state_dir, base.schema)
    mat.process_batch(
        snapshot_events(base, ["c_custkey"], F.col("c_custkey"), 1,
                        "customer"),
        0,
    )
    n = mat.current_rows().count()
    # forge the pre-r13 crash layout: no manifest, committed state only
    # under 'state.old' (the old swap's between-renames window)
    _shutil.move(mat._state_path(), _os.path.join(state_dir, "state.old"))
    _os.remove(_os.path.join(state_dir, "state_manifest.json"))
    mat2 = StreamingMaterializer(spark, state_dir, base.schema)
    assert mat2.current_rows() is not None
    assert mat2.current_rows().count() == n
    assert _os.path.basename(mat2._state_path()) == "state"  # adopted
    # the first new commit supersedes and GCs every legacy dir
    mat2.process_batch(
        snapshot_events(base.limit(5), ["c_custkey"], F.col("c_custkey"),
                        1, "customer").withColumn(
            "lsn", F.col("lsn") + 1000
        ),
        1,
    )
    assert mat2.current_rows().count() == n
    assert _os.path.basename(mat2._state_path()).startswith("state-g")
    assert not _os.path.exists(_os.path.join(state_dir, "state"))
    assert not _os.path.exists(_os.path.join(state_dir, "state.old"))


def test_legacy_run_key_slices_fold_into_resolved_key(spark, tmp_path):
    """Migration shim for the realpath run-key normalization: slices a
    pre-upgrade run wrote under md5(checkpoint AS SPELLED) are folded
    into the resolved key on start(), preferring the resolved copy
    when both hold the same epoch (the post-upgrade replay already
    rewrote it) — so the restarted query overwrites its own replayed
    slices instead of duplicating them, and the dedup probe filter
    sees them as the OWN run, not a prior one."""
    import hashlib
    import os

    from bottledwater_pg_spark.streaming.stream import (
        StreamingDedupIndex,
        _fold_legacy_run_slices,
        _run_key_of,
    )

    spelled = str(tmp_path / "ckpt") + "/"  # trailing-slash spelling
    legacy = hashlib.md5(spelled.encode("utf-8")).hexdigest()[:12]
    # the second legacy spelling: pre-"k"-prefix resolved key (a raw
    # md5 prefix can parse as scientific notation — 899682e19037 read
    # back as DOUBLE infinity by partition inference, the bug the
    # prefix kills; this test originally failed on exactly such a
    # 1-in-~400 tmp_path draw)
    legacy2 = hashlib.md5(
        os.path.realpath(spelled).encode("utf-8")
    ).hexdigest()[:12]
    resolved = _run_key_of(spelled)
    assert resolved.startswith("k") and resolved == "k" + legacy2
    assert legacy != resolved

    idx = StreamingDedupIndex(spark, str(tmp_path / "state"))
    # every root the index gates _have_index on (since the stored-
    # signature layout that includes the bands/sh EXTRA_SLICES)
    roots = tuple(
        idx._path(n)
        for n in ("index", "accepted") + StreamingDedupIndex.EXTRA_SLICES
    )
    df = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, text string"
    )
    for root in roots:
        # pre-upgrade epoch 0 exists only under the legacy key
        df([(1, "aaa"), (2, "bbb")]).write.mode("overwrite").parquet(
            os.path.join(root, f"run={legacy}", "epoch=0")
        )
        # epoch 1 exists under BOTH keys: the resolved copy is the
        # authoritative post-upgrade replay and must win
        df([(3, "stale")]).write.mode("overwrite").parquet(
            os.path.join(root, f"run={legacy}", "epoch=1")
        )
        df([(4, "fresh")]).write.mode("overwrite").parquet(
            os.path.join(root, f"run={resolved}", "epoch=1")
        )
        # pre-prefix era wrote epoch 2 under the raw resolved key
        df([(5, "ccc")]).write.mode("overwrite").parquet(
            os.path.join(root, f"run={legacy2}", "epoch=2")
        )

    folded = _fold_legacy_run_slices(roots, spelled)
    # one epoch-0 move (spelled legacy) + one epoch-2 move (raw
    # resolved legacy) per root
    assert folded == 2 * len(roots)
    for root in roots:
        assert not os.path.isdir(os.path.join(root, f"run={legacy}"))
        assert not os.path.isdir(os.path.join(root, f"run={legacy2}"))

    idx2 = StreamingDedupIndex(spark, str(tmp_path / "state"))
    idx2._run_key = resolved
    slices = idx2._index_slices()
    assert [
        r["run"] for r in slices.select("run").distinct().collect()
    ] == [resolved]
    assert sorted(
        r["doc_id"] for r in slices.filter("epoch = 0").collect()
    ) == [1, 2]
    assert [
        r["doc_id"] for r in slices.filter("epoch = 1").collect()
    ] == [4]  # resolved copy kept, stale legacy replay dropped
    assert [
        r["doc_id"] for r in slices.filter("epoch = 2").collect()
    ] == [5]  # pre-prefix era slice folded in

    # idempotent second call; already-resolved spelling is a no-op
    assert _fold_legacy_run_slices(roots, spelled) == 0
    assert _fold_legacy_run_slices(roots, os.path.realpath(spelled)) == 0


def test_streaming_vector_dedup_index_equals_batch_rule(
    spark, sf_dir, tmp_path
):
    """StreamingVectorDedupIndex over the duplicate-injected embedding
    corpus in 3 id-ordered micro-batches: the accepted set equals the
    batch rule (vector rejected iff ANY lower-id SRP-candidate in the
    whole corpus is within threshold cosine) — the SRP signature is a
    pure function of the vector, so batching cannot change the
    candidate set; replaying a batch (same or fresh epoch) changes
    nothing."""
    from bottledwater_pg_spark.operators import dedup
    from bottledwater_pg_spark.operators.llm_queries import (
        COSINE_THRESHOLD,
        embeddings_with_dups,
    )
    from bottledwater_pg_spark.streaming.stream import (
        StreamingVectorDedupIndex,
    )

    corpus = embeddings_with_dups(spark, sf_dir)
    idx = StreamingVectorDedupIndex(
        spark, str(tmp_path / "vstate"), threshold=COSINE_THRESHOLD
    )
    batches = [
        corpus.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        for lo, hi in [(0, 30), (30, 100), (100, 10**9)]
    ]
    for e, b in enumerate(batches):
        idx.process_batch(b, e)
    accepted = {r.vec_id for r in idx.accepted_ids().collect()}

    pairs = dedup.hyperplane_lsh_near_dup(
        corpus, threshold=COSINE_THRESHOLD
    ).toPandas()
    expected = {
        r.vec_id for r in corpus.select("vec_id").collect()
    } - set(pairs.b_id)
    assert accepted == expected
    # the injected copies are exactly the rejected set's core: every
    # +100000 copy has its original as a lower-id exact match
    assert {v for v in expected if v >= 100000} == set()

    # same-epoch replay (crash before checkpoint commit)
    idx.process_batch(batches[1], 1)
    assert {r.vec_id for r in idx.accepted_ids().collect()} == accepted
    # fresh-epoch re-delivery
    idx.process_batch(batches[1], 99)
    assert {r.vec_id for r in idx.accepted_ids().collect()} == accepted

    # restart: a NEW instance over the same state probes the standing
    # index from its first batch — re-feeding batch 2 under a new
    # epoch accepts nothing new
    idx2 = StreamingVectorDedupIndex(
        spark, str(tmp_path / "vstate"), threshold=COSINE_THRESHOLD
    )
    idx2._run_key = "otherrun"
    idx2.process_batch(batches[2], 0)
    assert {r.vec_id for r in idx2.accepted_ids().collect()} == accepted


def test_vector_dedup_index_restart_after_partial_epoch0_write(
    spark, sf_dir, tmp_path
):
    """Crash between the epoch-0 slice writes must not crash-loop the
    restarted query: whichever subset of roots the dying process left
    behind ('index' without 'sig'/'qv' from a pre-reorder incarnation,
    or 'sig'/'qv' without 'index' under the current write order), the
    fresh instance's probe gate only opens when EVERY root the probe
    reads exists, so the replay of epoch 0 runs clean and the final
    accepted set still equals the batch rule."""
    import shutil

    from bottledwater_pg_spark.operators.llm_queries import (
        COSINE_THRESHOLD,
        embeddings_with_dups,
    )
    from bottledwater_pg_spark.streaming.stream import (
        StreamingVectorDedupIndex,
    )

    corpus = embeddings_with_dups(spark, sf_dir)
    batch0 = corpus.filter(F.col("vec_id") < 60)

    for orphaned in (["index"], ["sig", "qv"]):
        state = tmp_path / ("crash_" + orphaned[0])
        pre = StreamingVectorDedupIndex(
            spark, str(state), threshold=COSINE_THRESHOLD
        )
        pre.process_batch(batch0, 0)
        # simulate the crash: keep only the orphaned roots
        for name in ("index", "sig", "qv", "accepted"):
            if name not in orphaned:
                shutil.rmtree(state / name, ignore_errors=True)

        post = StreamingVectorDedupIndex(
            spark, str(state), threshold=COSINE_THRESHOLD
        )
        assert not post._have_index  # incomplete state must not open the gate
        post.process_batch(batch0, 0)  # replay runs clean, no missing path
        got = {r.vec_id for r in post.accepted_ids().collect()}
        want = {
            r.vec_id
            for r in pre_accepted_of(spark, batch0, COSINE_THRESHOLD)
        }
        assert got == want


def pre_accepted_of(spark, batch, threshold):
    from bottledwater_pg_spark.operators import dedup

    pairs = dedup.hyperplane_lsh_near_dup(batch, threshold=threshold)
    rejected = {r.b_id for r in pairs.select("b_id").distinct().collect()}
    return (
        batch.select("vec_id")
        .filter(~F.col("vec_id").isin(list(rejected) or [-1]))
        .collect()
    )


def test_streaming_vector_dedup_index_runs_as_real_stream(spark, sf_dir):
    """StreamingVectorDedupIndex behind an actual readStream (file
    source, checkpointed): the accepted set equals the batch SRP-
    candidate rule — the foreachBatch hook, per-epoch slices, and
    run-key fold all work under the real streaming engine."""
    from bottledwater_pg_spark.operators import dedup
    from bottledwater_pg_spark.operators.llm_queries import (
        COSINE_THRESHOLD,
        embeddings_with_dups,
    )
    from bottledwater_pg_spark.streaming.stream import (
        StreamingVectorDedupIndex,
    )

    corpus = embeddings_with_dups(spark, sf_dir)
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/vecs"
        for i, (lo, hi) in enumerate([(0, 30), (30, 100), (100, 10**9)]):
            corpus.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
            ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}")
        streams = [
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b{i}")
            for i in range(3)
        ]
        idx = StreamingVectorDedupIndex(
            spark, f"{tmp}/state", threshold=COSINE_THRESHOLD
        )
        for i, st in enumerate(streams):
            q = idx.start(st, f"{tmp}/ckpt{i}")
            q.processAllAvailable()
            q.stop()
        accepted = {r.vec_id for r in idx.accepted_ids().collect()}

    pairs = dedup.hyperplane_lsh_near_dup(
        corpus, threshold=COSINE_THRESHOLD
    ).toPandas()
    expected = {
        r.vec_id for r in corpus.select("vec_id").collect()
    } - set(pairs.b_id)
    assert accepted == expected


def test_streaming_clustered_semdedup_equals_batch_rule(
    spark, sf_dir, tmp_path
):
    """StreamingClusteredSemDeDupIndex (trained SemDeDup twin) over
    the duplicate-injected corpus in 3 id-ordered micro-batches: the
    rejected set equals the batch rule over the SAME standing
    centroids (vector pruned iff a lower-id same-cluster neighbor is
    within threshold — similarity.semdedup_pairs_pruned), every
    injected +100000 copy is rejected, and replay (same or fresh
    epoch) plus a restarted instance change nothing."""
    from bottledwater_pg_spark.operators import similarity
    from bottledwater_pg_spark.operators.llm_queries import (
        COSINE_THRESHOLD,
        KMEANS_ITERS,
        KMEANS_K,
        embeddings_with_dups,
    )
    from bottledwater_pg_spark.streaming.stream import (
        StreamingClusteredSemDeDupIndex,
    )

    corpus = embeddings_with_dups(spark, sf_dir)
    idx = StreamingClusteredSemDeDupIndex(
        spark, str(tmp_path / "cstate"), threshold=COSINE_THRESHOLD,
        train_corpus=corpus, k=KMEANS_K, iters=KMEANS_ITERS,
    )
    # batch twin: prune over the assignment to the SAME standing
    # centroids (the operator's contract — new vectors assign to the
    # persisted table, not to a retrained one)
    assigned = idx._assign(corpus)
    expected_rejected = {
        r.pruned_id
        for r in similarity.semdedup_pairs_pruned(
            assigned, COSINE_THRESHOLD
        ).select("pruned_id").collect()
    }
    all_ids = {r.vec_id for r in corpus.select("vec_id").collect()}
    copy_ids = {v for v in all_ids if v >= 100000}
    assert copy_ids <= expected_rejected  # identical vector, same cell

    batches = [
        corpus.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        for lo, hi in [(0, 30), (30, 100), (100, 10**9)]
    ]
    for e, b in enumerate(batches):
        idx.process_batch(b, e)
    accepted = {r.vec_id for r in idx.accepted_ids().collect()}
    assert accepted == all_ids - expected_rejected

    # same-epoch replay (crash before checkpoint commit)
    idx.process_batch(batches[1], 1)
    assert {r.vec_id for r in idx.accepted_ids().collect()} == accepted
    # fresh-epoch re-delivery
    idx.process_batch(batches[1], 99)
    assert {r.vec_id for r in idx.accepted_ids().collect()} == accepted

    # restart: a NEW instance reloads the persisted centroids WITHOUT
    # a training corpus and probes the standing index from its first
    # batch — re-feeding batch 2 under a new run accepts nothing new
    idx2 = StreamingClusteredSemDeDupIndex(
        spark, str(tmp_path / "cstate"), threshold=COSINE_THRESHOLD,
        k=KMEANS_K, iters=KMEANS_ITERS,
    )
    idx2._run_key = "otherrun"
    idx2.process_batch(batches[2], 0)
    assert {r.vec_id for r in idx2.accepted_ids().collect()} == accepted


def test_streaming_clustered_semdedup_centroid_meta_gate(
    spark, sf_dir, tmp_path
):
    """Standing centroids built under different parameters (or a
    different assignment family) are silently wrong to probe: a
    restarted index with mismatched (k, iters) must REFUSE without a
    training corpus and REBUILD with one; a family bump in meta.json
    trips the same gate."""
    import json

    import pytest

    from bottledwater_pg_spark.operators.llm_queries import (
        COSINE_THRESHOLD,
        embeddings_with_dups,
    )
    from bottledwater_pg_spark.streaming.stream import (
        StreamingClusteredSemDeDupIndex,
    )

    corpus = embeddings_with_dups(spark, sf_dir)
    state = tmp_path / "gstate"
    StreamingClusteredSemDeDupIndex(
        spark, str(state), threshold=COSINE_THRESHOLD,
        train_corpus=corpus, k=4, iters=2,
    )
    # parameter mismatch: refuse without train_corpus
    with pytest.raises(LookupError, match="standing centroids"):
        StreamingClusteredSemDeDupIndex(
            spark, str(state), threshold=COSINE_THRESHOLD, k=8, iters=2,
        )
    # rebuild with one
    StreamingClusteredSemDeDupIndex(
        spark, str(state), threshold=COSINE_THRESHOLD,
        train_corpus=corpus, k=8, iters=2,
    )
    meta = json.load(open(state / "centroids_meta.json"))
    assert meta["k"] == 8
    # family drift (a pre-bump incarnation's centroids)
    meta["family"] = "kmeans-lloyd/legacy"
    json.dump(meta, open(state / "centroids_meta.json", "w"))
    with pytest.raises(LookupError, match="standing centroids"):
        StreamingClusteredSemDeDupIndex(
            spark, str(state), threshold=COSINE_THRESHOLD, k=8, iters=2,
        )
    # matched parameters load clean
    StreamingClusteredSemDeDupIndex(
        spark, str(state), threshold=COSINE_THRESHOLD,
        train_corpus=corpus, k=8, iters=2,
    )
    idx = StreamingClusteredSemDeDupIndex(
        spark, str(state), threshold=COSINE_THRESHOLD, k=8, iters=2,
    )
    assert idx._centroids.count() <= 8


def test_streaming_source_quota_caps_and_replays(spark, sf_dir, tmp_path):
    """StreamingSourceQuotaIndex: single-batch ingest equals the batch
    lowest-fingerprint draw; across batches no source ever exceeds the
    cap and accepts are never revoked (earlier-seen-wins); replay
    (same and fresh epoch) and a restarted instance change nothing;
    a full source rejects everything after restart."""
    from bottledwater_pg_spark.functions.text import fingerprint
    from bottledwater_pg_spark.streaming.stream import (
        StreamingSourceQuotaIndex,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    cap = 7

    # single batch == the batch rule
    idx1 = StreamingSourceQuotaIndex(spark, str(tmp_path / "q1"), cap=cap)
    idx1.process_batch(docs, 0)
    got1 = {r.doc_id for r in idx1.accepted_ids().collect()}
    pdf = docs.select(
        "source", "doc_id", fingerprint("text").alias("fp")
    ).toPandas()
    want1 = set(
        pdf.sort_values(["source", "fp", "doc_id"])
        .groupby("source").head(cap).doc_id
    )
    assert got1 == want1

    # multi-batch by id order: budgets fill first-come; never over cap
    idx = StreamingSourceQuotaIndex(spark, str(tmp_path / "q2"), cap=cap)
    batches = [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for lo, hi in [(0, 120), (120, 300), (300, 10**9)]
    ]
    for e, b in enumerate(batches):
        idx.process_batch(b, e)
    acc = idx.accepted_ids()
    per_source = (
        docs.join(acc, "doc_id", "left_semi")
        .groupBy("source").count().collect()
    )
    assert all(r["count"] <= cap for r in per_source)
    accepted = {r.doc_id for r in acc.collect()}
    # earlier-seen-wins: every batch-0 doc accepted by the batch-0
    # in-batch rule stays accepted at the end
    b0 = {r.doc_id for r in batches[0].select("doc_id").collect()}
    idx_b0 = StreamingSourceQuotaIndex(spark, str(tmp_path / "q3"), cap=cap)
    idx_b0.process_batch(batches[0], 0)
    b0_accepted = {r.doc_id for r in idx_b0.accepted_ids().collect()}
    assert b0_accepted <= accepted
    assert b0_accepted == accepted & b0

    # replay: same epoch, then fresh epoch
    idx.process_batch(batches[1], 1)
    assert {r.doc_id for r in idx.accepted_ids().collect()} == accepted
    idx.process_batch(batches[1], 99)
    assert {r.doc_id for r in idx.accepted_ids().collect()} == accepted

    # restart: standing budgets are full -> replaying data of already
    # full sources accepts nothing new
    idx2 = StreamingSourceQuotaIndex(spark, str(tmp_path / "q2"), cap=cap)
    idx2._run_key = "otherrun"
    idx2.process_batch(batches[2], 0)
    assert {r.doc_id for r in idx2.accepted_ids().collect()} == accepted


def test_streaming_source_quota_redelivery_budget_not_inflated(
    spark, tmp_path
):
    """Regression (r10 advice): a doc re-delivered under a fresh epoch
    — or re-fed after a restart under a new run key — has member rows
    in MULTIPLE (run, epoch) slices, and every duplicate row of an
    accepted doc passes the accepted semi-join. n_prior must count
    DISTINCT accepted docs, not member rows: later docs from a source
    with remaining budget must still be accepted."""
    from bottledwater_pg_spark.streaming.stream import (
        StreamingSourceQuotaIndex,
    )

    def batch(*rows):
        return spark.createDataFrame(
            list(rows), "doc_id bigint, source string, text string"
        )

    a = (1, "s", "alpha text body")
    c = (3, "s", "gamma text body")

    idx = StreamingSourceQuotaIndex(spark, str(tmp_path / "q"), cap=2)
    idx.process_batch(batch(a), 0)          # A accepted (1/2)
    idx.process_batch(batch(a), 99)         # fresh-epoch re-delivery
    # restart under a NEW run key, re-fed A again: third member slice
    idx2 = StreamingSourceQuotaIndex(spark, str(tmp_path / "q"), cap=2)
    idx2._run_key = "otherrun"
    idx2.process_batch(batch(a), 0)
    # the source has ONE distinct accepted doc; C must fit (2/2).
    # pre-fix, n_prior counted A's three member rows and rejected C.
    idx2.process_batch(batch(c), 1)
    accepted = {r.doc_id for r in idx2.accepted_ids().collect()}
    assert accepted == {1, 3}


def test_streaming_source_quota_meta_gate(spark, tmp_path):
    """Standing quota budgets are only meaningful under the cap and
    fingerprint family they were accepted under: a restarted instance
    with a different cap (or after a fingerprint-family bump, or over
    pre-contract state with no meta.json) must REFUSE — there is no
    rebuild path for history."""
    import json
    import os

    import pytest

    from bottledwater_pg_spark.streaming.stream import (
        StreamingSourceQuotaIndex,
    )

    state = tmp_path / "qm"
    docs = spark.createDataFrame(
        [(1, "s", "alpha"), (2, "s", "beta"), (3, "s", "gamma")],
        "doc_id bigint, source string, text string",
    )
    idx = StreamingSourceQuotaIndex(spark, str(state), cap=2)
    idx.process_batch(docs, 0)
    # matched parameters reopen clean and resume the standing budgets
    idx2 = StreamingSourceQuotaIndex(spark, str(state), cap=2)
    assert idx2._have_accepted
    # cap drift: budgets silently re-scoped -> refuse
    with pytest.raises(LookupError, match="cannot be reinterpreted"):
        StreamingSourceQuotaIndex(spark, str(state), cap=3)
    # fingerprint-family drift (a pre-bump incarnation's ranks)
    meta = json.load(open(state / "meta.json"))
    meta["fingerprint_family"] = "legacy/xxhash"
    json.dump(meta, open(state / "meta.json", "w"))
    with pytest.raises(LookupError, match="cannot be reinterpreted"):
        StreamingSourceQuotaIndex(spark, str(state), cap=2)
    # pre-contract state: slices on disk but no meta at all -> refuse
    os.remove(state / "meta.json")
    with pytest.raises(LookupError, match="no meta.json"):
        StreamingSourceQuotaIndex(spark, str(state), cap=2)


def test_streaming_dedup_index_fold_preserves_accepts(
    spark, sf_dir, tmp_path
):
    """Slice compaction on the text index: with folds interleaved
    (auto fold_every=2 plus an explicit compact), the accepted set
    equals the unfolded twin's; same-epoch replay, fresh-epoch
    re-delivery, and a restarted instance over the base snapshot all
    change nothing; folded directories are deleted (bounded count);
    and the crash window between base-write and cleanup — duplicates
    visible — decides identically, with the next compact finishing
    the interrupted cleanup."""
    import os

    from bottledwater_pg_spark.operators.llm_queries import (
        docs_with_near_dups,
    )
    from bottledwater_pg_spark.streaming.stream import (
        BASE_RUN_KEY,
        StreamingDedupIndex,
    )

    corpus = docs_with_near_dups(spark, sf_dir)
    batches = [
        corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for lo, hi in [(0, 90), (90, 180), (180, 300), (300, 10**9)]
    ]
    folded = StreamingDedupIndex(
        spark, str(tmp_path / "f"), threshold=0.8, fold_every=2
    )
    plain = StreamingDedupIndex(spark, str(tmp_path / "u"), threshold=0.8)
    for e, b in enumerate(batches):
        folded.process_batch(b, e)
        plain.process_batch(b, e)
    want = {r.doc_id for r in plain.accepted_ids().collect()}
    assert {r.doc_id for r in folded.accepted_ids().collect()} == want

    # the auto-fold at epoch 2 folded epochs 0-1: base exists, the
    # folded own-run epoch dirs are gone, live epochs 2-3 remain
    idx_root = tmp_path / "f" / "index"
    assert (idx_root / f"run={BASE_RUN_KEY}" / "epoch=2").is_dir()
    own = [d for d in os.listdir(idx_root) if d != f"run={BASE_RUN_KEY}"]
    assert len(own) == 1
    live = sorted(os.listdir(idx_root / own[0]))
    assert live == ["epoch=2", "epoch=3"]
    assert folded.slice_dir_count() < plain.slice_dir_count()

    # same-epoch replay and fresh-epoch re-delivery over the base
    folded.process_batch(batches[3], 3)
    assert {r.doc_id for r in folded.accepted_ids().collect()} == want
    folded.process_batch(batches[1], 99)
    assert {r.doc_id for r in folded.accepted_ids().collect()} == want

    # crash window: base written, cleanup interrupted -> duplicate
    # rows visible (old base + folded slices + re-delivered copies);
    # probes must decide identically (Jaccard counts DISTINCT
    # shingles, ids dedupe)
    real_cleanup = folded._cleanup_folded
    folded._cleanup_folded = lambda *a, **k: None
    folded.compact(100)
    folded._cleanup_folded = real_cleanup
    folded.process_batch(batches[2], 101)
    assert {r.doc_id for r in folded.accepted_ids().collect()} == want
    # next compact at the SAME watermark finishes the cleanup
    folded.compact(100)
    assert sorted(os.listdir(idx_root / f"run={BASE_RUN_KEY}")) == [
        "epoch=100"
    ]

    # restart under a new run key: probes the base from batch one;
    # its own compact folds the foreign remains into a fresh base
    idx2 = StreamingDedupIndex(spark, str(tmp_path / "f"), threshold=0.8)
    idx2._run_key = "otherrun"
    idx2.process_batch(batches[2], 0)
    assert {r.doc_id for r in idx2.accepted_ids().collect()} == want
    idx2.compact(1)
    idx2.process_batch(batches[3], 5)
    assert {r.doc_id for r in idx2.accepted_ids().collect()} == want


def test_streaming_vector_dedup_fold_twin_equality(spark, sf_dir, tmp_path):
    """Vector index: explicit compact() between batches leaves the
    accepted set identical to the unfolded twin's (sig/qv extra
    slices fold too)."""
    from bottledwater_pg_spark.operators.llm_queries import (
        embeddings_with_dups,
    )
    from bottledwater_pg_spark.streaming.stream import (
        StreamingVectorDedupIndex,
    )

    corpus = embeddings_with_dups(spark, sf_dir)
    batches = [
        corpus.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        for lo, hi in [(0, 50), (50, 100), (100, 10**9)]
    ]
    folded = StreamingVectorDedupIndex(spark, str(tmp_path / "vf"))
    plain = StreamingVectorDedupIndex(spark, str(tmp_path / "vu"))
    for e, b in enumerate(batches):
        folded.process_batch(b, e)
        if e:
            folded.compact(e)  # fold everything below the live epoch
        plain.process_batch(b, e)
    want = {r.vec_id for r in plain.accepted_ids().collect()}
    assert {r.vec_id for r in folded.accepted_ids().collect()} == want
    assert folded.slice_dir_count() < plain.slice_dir_count()


def test_streaming_clustered_semdedup_fold_and_cell_pruned_layout(
    spark, sf_dir, tmp_path
):
    """Trained SemDeDup index with auto-fold: accepted set still
    equals the batch rule over the same standing centroids, and the
    cqv slices — live AND base — are laid out partitioned by cent_id,
    so the probe's literal cell filter prunes at file-listing time."""
    import os

    from bottledwater_pg_spark.operators import similarity
    from bottledwater_pg_spark.operators.llm_queries import (
        COSINE_THRESHOLD,
        KMEANS_ITERS,
        KMEANS_K,
        embeddings_with_dups,
    )
    from bottledwater_pg_spark.streaming.stream import (
        BASE_RUN_KEY,
        StreamingClusteredSemDeDupIndex,
    )

    corpus = embeddings_with_dups(spark, sf_dir)
    idx = StreamingClusteredSemDeDupIndex(
        spark, str(tmp_path / "cf"), threshold=COSINE_THRESHOLD,
        train_corpus=corpus, k=KMEANS_K, iters=KMEANS_ITERS,
        fold_every=1,
    )
    expected_rejected = {
        r.pruned_id
        for r in similarity.semdedup_pairs_pruned(
            idx._assign(corpus), COSINE_THRESHOLD
        ).select("pruned_id").collect()
    }
    all_ids = {r.vec_id for r in corpus.select("vec_id").collect()}
    batches = [
        corpus.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        for lo, hi in [(0, 30), (30, 100), (100, 10**9)]
    ]
    for e, b in enumerate(batches):
        idx.process_batch(b, e)
    accepted = {r.vec_id for r in idx.accepted_ids().collect()}
    assert accepted == all_ids - expected_rejected

    # layout: the base snapshot nests cent_id partitions (file-level
    # cell pruning), and only the live epoch remains unfolded
    cqv = tmp_path / "cf" / "cqv"
    base = cqv / f"run={BASE_RUN_KEY}" / "epoch=2"
    assert base.is_dir()
    assert any(d.startswith("cent_id=") for d in os.listdir(base))
    assert idx.slice_dir_count() <= 2 * 4  # <= 2 epochs x 4 roots

    # fresh-epoch re-delivery over the folded base changes nothing
    idx.process_batch(batches[1], 99)
    assert {r.vec_id for r in idx.accepted_ids().collect()} == accepted


def test_streaming_source_quota_fold_preserves_budgets(
    spark, sf_dir, tmp_path
):
    """Quota index: folds interleaved with ingest keep every standing
    budget intact — the accepted set equals the unfolded twin's, and
    the members/accepted slices collapse into the base (distinct), so
    re-delivered duplicates can never re-inflate n_prior."""
    from bottledwater_pg_spark.streaming.stream import (
        StreamingSourceQuotaIndex,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    batches = [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for lo, hi in [(0, 120), (120, 300), (300, 10**9)]
    ]
    folded = StreamingSourceQuotaIndex(
        spark, str(tmp_path / "qf"), cap=7, fold_every=1
    )
    plain = StreamingSourceQuotaIndex(spark, str(tmp_path / "qu"), cap=7)
    for e, b in enumerate(batches):
        folded.process_batch(b, e)
        plain.process_batch(b, e)
    want = {r.doc_id for r in plain.accepted_ids().collect()}
    assert {r.doc_id for r in folded.accepted_ids().collect()} == want
    assert folded.slice_dir_count() < plain.slice_dir_count()
    # budgets stay full across a fold: re-feeding under a new run key
    # accepts nothing new
    idx2 = StreamingSourceQuotaIndex(spark, str(tmp_path / "qf"), cap=7)
    idx2._run_key = "otherrun"
    idx2.process_batch(batches[2], 0)
    assert {r.doc_id for r in idx2.accepted_ids().collect()} == want


def test_streaming_gopher_gate_batch_parity(spark, sf_dir):
    """gopher_gate behind an actual readStream (file source, one file
    per trigger): the streamed survivor set equals the batch filter —
    docs where gopher_quality_flags counts them in n_pass — proving
    the shared rule kernel gives identical decisions on both paths,
    and that the gate is legal inside a streaming plan (stateless
    narrow expressions only)."""
    from bottledwater_pg_spark.operators.llm_queries import (
        with_gopher_flags,
    )
    from bottledwater_pg_spark.streaming.stream import gopher_gate

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # fixture docs are shorter than the paper's 50-word web-page
    # floor; loosen bounds so BOTH pass and fail sets are non-empty
    # (a gate that drops everything proves nothing)
    min_w, max_w = 30, 60
    want = {
        r.doc_id
        for r in with_gopher_flags(docs, min_words=min_w, max_words=max_w)
        .filter(F.col("gopher_ok"))
        .select("doc_id")
        .collect()
    }
    n_docs = docs.count()
    assert 0 < len(want) < n_docs  # both sides of the gate exercised

    with tempfile.TemporaryDirectory() as tmp:
        docs.repartition(4).write.mode("overwrite").parquet(f"{tmp}/src")
        gated = gopher_gate(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src"),
            min_words=min_w, max_words=max_w,
        )
        assert gated.isStreaming  # the gate composes INTO the stream
        q = (
            gated.writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            r.doc_id
            for r in spark.read.parquet(f"{tmp}/out")
            .select("doc_id").collect()
        }
    assert got == want
    # schema passes through untouched (flag columns dropped)
    assert gated.columns == ["doc_id", "source", "text"]


def test_streaming_dedup_band_family_meta_gate(spark, tmp_path):
    """Stored band/shingle slices fix the MinHash recipe: a restarted
    index under a different family must REFUSE (stored signatures are
    guaranteed-disjoint from recomputed ones), and pre-contract state
    without meta.json refuses too."""
    import json
    import os

    import pytest

    from bottledwater_pg_spark.streaming.stream import StreamingDedupIndex

    state = tmp_path / "bm"
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    idx = StreamingDedupIndex(spark, str(state), threshold=0.8)
    idx.process_batch(docs, 0)
    # matched family reopens clean
    idx2 = StreamingDedupIndex(spark, str(state), threshold=0.8)
    assert idx2._have_index
    # family drift -> refuse
    meta = json.load(open(state / "meta.json"))
    meta["band_family"] = "minhash/legacy"
    json.dump(meta, open(state / "meta.json", "w"))
    with pytest.raises(LookupError, match="guaranteed-disjoint"):
        StreamingDedupIndex(spark, str(state), threshold=0.8)
    # pre-contract state (no meta at all) -> refuse
    os.remove(state / "meta.json")
    with pytest.raises(LookupError, match="no meta.json"):
        StreamingDedupIndex(spark, str(state), threshold=0.8)


def test_streaming_lm_screen_scores_match_batch_kernel(
    spark, sf_dir, tmp_path
):
    """StreamingLMScreen over the SAME corpus it was trained on: every
    scored doc's mean_surprise_q equals the batch kernel's
    (_lm_surprise_per_doc) — the streamed screen is the batch scorer
    applied continuously, not an approximation. Unscored docs (no two
    consecutive alphabetic tokens) pass with n_bigrams=0; same-epoch
    replay rewrites, never duplicates."""
    from bottledwater_pg_spark.operators.llm_queries import (
        _lm_surprise_per_doc,
    )
    from bottledwater_pg_spark.streaming.stream import StreamingLMScreen

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scr = StreamingLMScreen(
        spark, str(tmp_path / "lm"), train_corpus=docs,
        threshold_q=10**9,
    )
    batches = [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for lo, hi in [(0, 200), (200, 10**9)]
    ]
    for e, b in enumerate(batches):
        scr.process_batch(b, e)
    audit = scr.audit().toPandas().set_index("doc_id")
    want = _lm_surprise_per_doc(docs).toPandas().set_index("doc_id")
    assert len(audit) == docs.count()
    for doc_id, row in want.iterrows():
        assert audit.loc[doc_id].mean_surprise_q == row.mean_surprise_q
        assert audit.loc[doc_id].n_bigrams == row.n_bigrams
    unscored = audit[~audit.index.isin(want.index)]
    assert (unscored.n_bigrams == 0).all()
    assert unscored["pass"].all()
    # generous threshold: everything passes
    assert audit["pass"].all()
    # same-epoch replay: audit row count unchanged
    scr.process_batch(batches[0], 0)
    assert len(scr.audit().toPandas()) == len(audit)


def test_streaming_lm_screen_unseen_bigrams_and_threshold(
    spark, sf_dir, tmp_path
):
    """Novel text (bigrams absent from the standing model) smooths to
    EXACTLY the add-one value V*10000 (c1=c2=0) — note this is the
    unseen-PREV score, not a global ceiling: a frequent prev with a
    rare cur scores (c1+V)/(c2+1) > V, legitimate add-one behavior
    (and with the fixture's tiny alpha vocabulary, V=31-ish, the
    in-model doc actually scores HIGHER than the novel one). A
    threshold between the two scores rejects exactly the
    higher-surprise doc. A restarted screen reloads the persisted
    model without a train corpus; a family bump refuses without one
    and rebuilds with one."""
    import json

    import pytest

    from bottledwater_pg_spark.streaming.stream import StreamingLMScreen

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = tmp_path / "lm2"
    scr = StreamingLMScreen(spark, str(state), train_corpus=docs)
    familiar = docs.limit(1).select(F.lit(900001).alias("doc_id"), "text")
    novel = spark.createDataFrame(
        [(900002,
          "zzqx vvwk jjqz xxvv qqzz wwxx zzvv qqww xxzz vvqq")],
        "doc_id long, text string",
    )
    scores = scr.score_batch(
        familiar.unionByName(novel)
    ).toPandas().set_index("doc_id")
    fam_q = scores.loc[900001].mean_surprise_q
    nov_q = scores.loc[900002].mean_surprise_q
    # unseen prev AND unseen pair -> exactly the add-one value V*10000
    assert nov_q == scr._v * 10000
    assert fam_q != nov_q
    lo_id, hi_id = (
        (900001, 900002) if fam_q < nov_q else (900002, 900001)
    )
    # threshold between the two: the higher-surprise doc is rejected
    scr2 = StreamingLMScreen(
        spark, str(state), threshold_q=int((fam_q + nov_q) // 2)
    )
    scores2 = scr2.score_batch(
        familiar.unionByName(novel)
    ).toPandas().set_index("doc_id")
    assert bool(scores2.loc[lo_id]["pass"])
    assert not bool(scores2.loc[hi_id]["pass"])
    # family drift: refuse without a corpus, rebuild with one
    meta = json.load(open(state / "meta.json"))
    meta["family"] = "bigram/legacy"
    json.dump(meta, open(state / "meta.json", "w"))
    with pytest.raises(LookupError, match="standing LM"):
        StreamingLMScreen(spark, str(state))
    StreamingLMScreen(spark, str(state), train_corpus=docs)
    assert json.load(open(state / "meta.json"))["family"] == (
        StreamingLMScreen.LM_FAMILY
    )


def test_streaming_c4_gate_batch_parity_and_rewrite(spark, sf_dir):
    """c4_gate behind an actual readStream: the streamed survivor set
    AND the rewritten texts equal the batch application of the shared
    verdict kernel on the same corpus — and the gate genuinely
    cleans: a surviving page with a bad line comes out shorter, with
    every kept line terminal-punctuated and >= 5 words."""
    from bottledwater_pg_spark.operators.llm_queries import (
        C4_MIN_LINE_WORDS,
    )
    from bottledwater_pg_spark.streaming.stream import c4_gate

    # give the corpus real newline structure: chunk each doc's tokens
    # into 8-word lines, '.'-terminate ~half deterministically (md5),
    # plant page-drop markers on disjoint residues
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.expr(
            "array_join(transform("
            "  sequence(0, cast(ceil(size(split(trim(text), ' +')) / 8.0)"
            "           as int) - 1),"
            "  i -> concat(array_join(slice(split(trim(text), ' +'),"
            "       i * 8 + 1, 8), ' '),"
            "       CASE WHEN substring(md5(array_join(slice("
            "       split(trim(text), ' +'), i * 8 + 1, 8), ' ')), 1, 1)"
            "       < '8' THEN '.' ELSE '' END)), '\n')"
        ).alias("text"),
    ).withColumn(
        "text",
        F.when(F.col("doc_id") % 25 == 0,
               F.concat(F.col("text"), F.lit("\nlorem ipsum")))
        .otherwise(F.col("text")),
    )
    batch = {
        (r.doc_id, r.text)
        for r in c4_gate(docs).select("doc_id", "text").collect()
    }
    n_docs = docs.count()
    assert 0 < len(batch) < n_docs  # both sides exercised

    with tempfile.TemporaryDirectory() as tmp:
        docs.repartition(4).write.mode("overwrite").parquet(f"{tmp}/src")
        gated = c4_gate(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src")
        )
        assert gated.isStreaming
        assert gated.columns == ["doc_id", "source", "text"]
        q = (
            gated.writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r.doc_id, r.text)
            for r in spark.read.parquet(f"{tmp}/out")
            .select("doc_id", "text").collect()
        }
    assert got == batch
    # the gate CLEANS: every kept line punctuated and >= 5 words
    for _, text in list(batch)[:50]:
        for line in text.split("\n"):
            assert line[-1] in ".!?"
            assert len(line.split(" ")) >= C4_MIN_LINE_WORDS
    # at least one surviving page lost a line (rewrite is real)
    orig = {r.doc_id: r.text for r in docs.collect()}
    assert any(len(t) < len(orig[d]) for d, t in batch)


def test_c4_gate_marker_match_is_case_sensitive_like_batch(spark):
    """ADVICE r11: the gate's marker detection is the SHARED
    case-sensitive ``c4_marker_exprs`` kernel — a mixed-case
    'Lorem Ipsum' page survives (as it does under the batch rule and
    its DuckDB oracle, both verbatim ``contains``), the lowercase
    marker kills the page. The old ``F.lower`` gate dropped both,
    breaking the streamed-equals-batch claim on mixed-case pages."""
    from bottledwater_pg_spark.streaming.stream import c4_gate

    good = "\n".join(["alpha beta gamma delta epsilon."] * 3)
    docs = spark.createDataFrame(
        [(1, good + "\nLorem Ipsum"), (2, good + "\nlorem ipsum")],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in c4_gate(docs).collect()}
    assert kept == {1}


def test_streaming_perceptron_screen_matches_trained_classifier(
    spark, sf_dir, tmp_path
):
    """StreamingPerceptronScreen trained on the labeled repetition
    corpus, then fed that corpus as micro-batches: the streamed pass
    set equals the trained classifier's verdict — every original
    passes and every injected junk twin fails (the batch query
    measures perfect separation), because featurization and the dot
    both use the batch kernels. Same-epoch replay rewrites, never
    duplicates; a restarted screen reloads the persisted weights; a
    family bump refuses without train_feats and rebuilds with them."""
    import json

    import pytest

    from bottledwater_pg_spark.operators.llm_queries import (
        _perceptron_features,
        docs_with_repetition,
    )
    from bottledwater_pg_spark.streaming.stream import (
        StreamingPerceptronScreen,
    )

    corpus = docs_with_repetition(spark, sf_dir)
    feats = _perceptron_features(corpus)
    state = tmp_path / "pcls"
    scr = StreamingPerceptronScreen(spark, str(state), train_feats=feats)
    batches = [
        corpus.filter((F.col("doc_id") % 2 == k)) for k in (0, 1)
    ]
    for e, b in enumerate(batches):
        scr.process_batch(b, e)
    audit = scr.audit().toPandas().set_index("doc_id")
    assert len(audit) == corpus.count()
    originals = audit[audit.index < 300000]
    twins = audit[audit.index >= 300000]
    assert len(twins) > 0
    assert originals["pass"].all()
    assert not twins["pass"].any()
    # same-epoch replay: overwrite, not duplicate
    scr.process_batch(batches[0], 0)
    assert len(scr.audit().toPandas()) == len(audit)
    # restart without train_feats: standing weights reload
    scr2 = StreamingPerceptronScreen(spark, str(state))
    again = (
        scr2.score_batch(corpus).toPandas()
        .set_index("doc_id").sort_index()
    )
    assert (again["pass"] == audit.sort_index()["pass"]).all()
    # family drift: refuse without feats, rebuild with them
    meta = json.load(open(state / "meta.json"))
    meta["family"] = "perceptron/legacy"
    json.dump(meta, open(state / "meta.json", "w"))
    with pytest.raises(LookupError, match="standing classifier"):
        StreamingPerceptronScreen(spark, str(state))
    StreamingPerceptronScreen(spark, str(state), train_feats=feats)
    assert json.load(open(state / "meta.json"))["family"] == (
        StreamingPerceptronScreen.PERCEPTRON_FAMILY
    )


def test_streaming_dedup_probe_bucket_cap_parity(spark, sf_dir, tmp_path):
    """StreamingDedupIndex(probe_bucket_cap=K) over a stream carrying
    a growing boilerplate cohort: the accepted set equals the uncapped
    twin's — the cap only bounds how many standing cohort members each
    probe touches, and the earliest member is witness enough for a
    mutual-similarity cohort."""
    from pyspark.sql import functions as F

    from bottledwater_pg_spark.operators.llm_queries import (
        BOILER_BASE,
        BOILER_FOOTER,
        docs_with_near_dups,
    )
    from bottledwater_pg_spark.streaming.stream import StreamingDedupIndex

    docs = docs_with_near_dups(spark, sf_dir)
    def cohort(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") + BOILER_BASE).alias("doc_id"),
            F.lit(BOILER_FOOTER).alias("text"),
        )

    batches = [
        docs.filter(F.col("doc_id") < 150).unionByName(cohort(0, 30)),
        docs.filter(
            (F.col("doc_id") >= 150) & (F.col("doc_id") < 300)
        ).unionByName(cohort(30, 60)),
        docs.filter(F.col("doc_id") >= 300).unionByName(cohort(60, 90)),
    ]
    capped = StreamingDedupIndex(
        spark, str(tmp_path / "c"), threshold=0.8, probe_bucket_cap=3
    )
    plain = StreamingDedupIndex(spark, str(tmp_path / "p"), threshold=0.8)
    for e, b in enumerate(batches):
        capped.process_batch(b, e)
        plain.process_batch(b, e)
    got = {r.doc_id for r in capped.accepted_ids().collect()}
    want = {r.doc_id for r in plain.accepted_ids().collect()}
    assert got == want
    # exactly one cohort page survives (the first-ever one)
    assert {d for d in got if d >= BOILER_BASE} == {BOILER_BASE}
