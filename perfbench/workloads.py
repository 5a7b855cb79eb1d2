"""The benchmark's workloads. Each is a closed loop with one client:
the next operation starts only when the previous one has returned.

``stream_catchup``: one operation is a consumer catching up on a
pre-written envelope backlog through ``MultiTableMaterializer``,
from empty state to ``processAllAvailable()``; its steps are the
micro-batches.

``query_mix``: one operation is a pass over a fixed mix of
driver-contract queries, each built by calling the query function and
run to the ``noop`` sink; its steps are the queries.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import time

from spans import durations, median, self_time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
ORACLES = os.path.join(HERE, "oracles.json")

# Driver-contract queries timed by query_mix. A build-bound row spends
# most of its time in eager jobs inside the query function; the others in
# the final action.
QUERY_MIX = (
    "supplier_kcore",               # build-bound: one job per k-core round
    "pagerank_copurchase",          # executor-bound, iterative
    "q5_local_supplier_volume",     # executor-bound, join tree
    "cdc_stream_table_join",        # CDC consumer: encode, compact, join
)

STREAM_TABLES = ("customer", "documents", "orders")
STREAM_FACTOR = 5
STREAM_FILES = 10   # micro-batches per catch-up (one file per trigger)
WARM_FILES = 2      # files in the warm-up catch-up
MERGE_PROBE_FILES = 3  # backlog files the traced run feeds the merge sink


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def _percentile_tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest of p50/p75/p90/p95/p99 with at
    least ten samples beyond it; the maximum when there are too few
    samples for p50."""
    n = len(values)
    if not n:
        return 0.0, 0.0
    srt = sorted(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            k = max(0, math.ceil(n * p / 100) - 1)
            return srt[k], float(p)
    return srt[-1], 100.0


def _patch(cls, attr: str, make):
    """Replace ``cls.attr`` with ``make(original)``; returns an undo."""
    orig = getattr(cls, attr)
    setattr(cls, attr, make(orig))
    return lambda: setattr(cls, attr, orig)


class Workload:
    """``setup`` (fixtures and warm-up), then ``run_op`` in a loop,
    ``check`` after it; a traced run adds ``install_trace`` around the
    traced half of the loop and ``probes`` after ``check``."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)

    def check(self) -> None:
        """Correctness checks left for after the loop."""

    def install_trace(self) -> list:
        """Install class-level spans; returns their undo callables."""
        return []

    def probes(self) -> None:
        """Traced runs only: layers timed on their own after the loop."""


# ------------------------------------------------------------------
class StreamCatchup(Workload):
    name = "stream_catchup"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.cache = os.path.join(ctx.cache_dir, f"stream-x{STREAM_FACTOR}")
        self.backlog = os.path.join(ctx.work, "backlog")
        self._op_rec = None
        self._batch_rec = None
        self.promote_bytes: list[int] = []

    # -- fixtures ---------------------------------------------------
    def build_cache(self) -> None:
        """Seed-independent inputs, built once per checkout: the scaled
        tables and the envelope events generated from them (each
        table's TableSchema announcement, then its CDC stream)."""
        if os.path.exists(os.path.join(self.cache, "meta.json")):
            return
        from pyspark.sql import functions as F

        from bottledwater_pg_spark.pipeline import TABLE_SPECS
        from bottledwater_pg_spark.routing import topic_name
        from bottledwater_pg_spark.scale_fixtures import build_scaled_dir
        from bottledwater_pg_spark.schema_tracker import table_schema_events
        from bottledwater_pg_spark.session import load_table
        from bottledwater_pg_spark.sources.catalog import (
            TABLE_PKNUM_SQL,
            get_table_list,
        )
        from bottledwater_pg_spark.sources.generator import generate_cdc

        spark = self.ctx.spark
        tmp = self.cache + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        scaled = build_scaled_dir(
            spark, DATA_DIR, os.path.join(tmp, "scaled"), STREAM_FACTOR,
            tables=STREAM_TABLES,
        )
        events = None
        for t in get_table_list(scaled, "%"):
            df = load_table(spark, scaled, t.name)
            ctl = table_schema_events(
                df, t.relid, topic_name(t.name, "public", None), lsn=-1
            )
            ev = ctl.unionByName(generate_cdc(
                df, list(t.key_columns), F.expr(TABLE_PKNUM_SQL[t.name]),
                t.relid, t.name, spec=TABLE_SPECS.get(t.name),
            ))
            events = ev if events is None else events.unionByName(ev)
        events.write.parquet(os.path.join(tmp, "events"))
        n = spark.read.parquet(os.path.join(tmp, "events")).count()
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump({"events": n}, fh)
        os.rename(tmp, self.cache)

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from bottledwater_pg_spark.session import load_table
        from bottledwater_pg_spark.sources.catalog import get_table_list

        self.build_cache()
        spark = self.ctx.spark
        with open(os.path.join(self.cache, "meta.json")) as fh:
            self.n_events = json.load(fh)["events"]
        scaled = os.path.join(self.cache, "scaled")
        self.tables = get_table_list(scaled, "%")
        self.schemas = {
            t.relid: (t.name, load_table(spark, scaled, t.name).schema)
            for t in self.tables
        }
        # the seed decides which file (= micro-batch) each event lands
        # in; file count and event count never change
        rank = F.xxhash64(F.lit(self.ctx.seed), "relid", "lsn")
        (
            spark.read.parquet(os.path.join(self.cache, "events"))
            .withColumn("_rank", rank)
            .repartitionByRange(STREAM_FILES, "_rank")
            .drop("_rank")
            .write.parquet(self.backlog)
        )
        files = sorted(
            f for f in os.listdir(self.backlog) if f.endswith(".parquet")
        )
        if len(files) != STREAM_FILES:
            raise RuntimeError(
                f"backlog has {len(files)} files, expected {STREAM_FILES}"
            )
        warm = os.path.join(self.ctx.work, "warm")
        os.makedirs(warm)
        for f in files[:WARM_FILES]:
            shutil.copy(os.path.join(self.backlog, f), warm)
        self._catch_up(warm, os.path.join(self.ctx.work, "warm_run"))

    # -- the operation ----------------------------------------------
    def _catch_up(self, source: str, out: str) -> dict:
        from bottledwater_pg_spark.streaming.stream import (
            MultiTableMaterializer,
            read_envelope_stream,
        )

        spark = self.ctx.spark
        batches: list[float] = []
        mat = MultiTableMaterializer(
            spark, os.path.join(out, "state"), self.schemas
        )
        route = mat.process_batch

        def timed_batch(batch, epoch_id):
            rec = self.ctx.tracer.open("stream.batch", parent=self._op_rec)
            self._batch_rec = rec
            t0 = time.perf_counter()
            try:
                route(batch, epoch_id)
            finally:
                batches.append(time.perf_counter() - t0)
                self.ctx.tracer.close(rec)

        mat.process_batch = timed_batch
        t0 = time.perf_counter()
        q = mat.start(
            read_envelope_stream(spark, source, files_per_trigger=1),
            os.path.join(out, "ckpt"),
        )
        try:
            q.processAllAvailable()
            wall = time.perf_counter() - t0
            progress = [
                p.durationMs for p in q.recentProgress if p.numInputRows
            ]
        finally:
            q.stop()
        return {"wall": wall, "steps": batches, "out": out,
                "progress": progress}

    def run_op(self, i: int) -> None:
        self.attempted += 1
        out = os.path.join(self.ctx.work, f"catchup{i}")
        with self.ctx.tracer.span("op", group=True) as rec:
            self._op_rec = rec
            try:
                op = self._catch_up(self.backlog, out)
            except Exception as exc:  # noqa: BLE001 — count, keep going
                self.fail(f"catch-up {i}: {type(exc).__name__}: {str(exc)[:200]}")
                return
        op["span"] = rec["id"] if rec else None
        self.ops.append(op)

    # -- correctness --------------------------------------------------
    def check(self) -> None:
        """Every catch-up's final per-table state must equal a one-shot
        ``materialize`` of the same events, row for row: a signed count
        per distinct row (+1 per state row, -1 per expected row) that is
        non-zero for some row is what ``exceptAll`` finds either way.
        All tables and catch-ups are checked in one job."""
        from pyspark.sql import functions as F

        from bottledwater_pg_spark.operators.materialize import materialize
        from bottledwater_pg_spark.streaming.stream import (
            MultiTableMaterializer,
        )

        spark = self.ctx.spark
        events = spark.read.parquet(self.backlog)
        diffs = []
        for i, op in enumerate(self.ops):
            mat = MultiTableMaterializer(
                spark, os.path.join(op["out"], "state"), self.schemas
            )
            for relid, (name, schema) in self.schemas.items():
                want = materialize(events.filter(F.col("relid") == relid), schema)
                got = mat.current_rows(relid)
                if got is None:
                    self.fail(f"catch-up {i}: {name} has no state")
                    continue
                cols = want.columns
                signed = got.select(*cols, F.lit(1).alias("_n")).unionByName(
                    want.select(*cols, F.lit(-1).alias("_n"))
                )
                diffs.append(
                    signed.groupBy(*cols).agg(F.sum("_n").alias("_n"))
                    .filter(F.col("_n") != 0)
                    .select(F.lit(i).alias("op"), F.lit(name).alias("t"),
                            F.abs("_n").alias("rows"))
                )
        if diffs:
            union = diffs[0]
            for d in diffs[1:]:
                union = union.unionByName(d)
            for r in union.groupBy("op", "t").agg(F.sum("rows")).collect():
                self.fail(f"catch-up {r[0]}: {r[1]} differs from the "
                          f"one-shot materialize in {r[2]} rows")

    # -- metrics ------------------------------------------------------
    def metrics(self) -> tuple[dict, dict]:
        """(end-to-end metrics, report detail)."""
        walls = [op["wall"] for op in self.ops]
        steps = [s for op in self.ops for s in op["steps"][1:]]
        tail, pct = _percentile_tail(steps)
        return {"pass_s": median(walls), "step_s": median(steps)}, {
            "stream_events_per_s": median(
                [self.n_events / w for w in walls]),
            "catchup_s": walls,
            "batch_s": [op["steps"] for op in self.ops],
            "catchups": len(self.ops),
            "events_per_catchup": self.n_events,
            "batch_commit_p50_s": median(steps),
            "batch_commit_tail_s": tail,
            "batch_commit_tail_percentile": pct,
            "batch_samples": len(steps),
            "batch_samples_note": "first batch of each catch-up excluded",
            "growth_ratio": self.growth_ratio(),
        }

    def growth_ratio(self) -> float:
        """Median over catch-ups of median(last quarter of batches) /
        median(first quarter after the first batch)."""
        ratios = []
        for op in self.ops:
            s = op["steps"][1:]
            q = len(s) // 4
            if q:
                ratios.append(median(s[-q:]) / median(s[:q]))
        return median(ratios)

    # -- tracing --------------------------------------------------------
    def install_trace(self) -> list:
        """Spans around the per-table merge and the state commit."""
        from bottledwater_pg_spark.streaming import statecommit
        from bottledwater_pg_spark.streaming.stream import (
            StreamingMaterializer,
        )

        tracer = self.ctx.tracer

        def make_promote(orig):
            def promote(state, staged):
                self.promote_bytes.append(_dir_bytes(staged))
                with tracer.span("statecommit.promote"):
                    return orig(state, staged)
            return promote

        return [
            _patch(StreamingMaterializer, "process_batch",
                   lambda orig: tracer.wrap(
                       orig, "stream.table_merge",
                       parent_of=lambda: self._batch_rec)),
            _patch(statecommit.GenerationalState, "promote", make_promote),
        ]

    def probes(self) -> None:
        """Traced runs only: each CDC layer on its own over the same scaled
        tables and backlog, forced to the noop sink."""
        from pyspark.sql import functions as F

        from bottledwater_pg_spark.errors import ErrorPolicy, ddl_registry_fold
        from bottledwater_pg_spark.operators.materialize import materialize
        from bottledwater_pg_spark.operators.merge_sink import BucketedMergeSink
        from bottledwater_pg_spark.pipeline import TABLE_SPECS, replicate_database
        from bottledwater_pg_spark.routing import topic_name
        from bottledwater_pg_spark.schema_tracker import table_schema_events
        from bottledwater_pg_spark.session import load_table
        from bottledwater_pg_spark.sources.catalog import TABLE_PKNUM_SQL
        from bottledwater_pg_spark.sources.generator import generate_cdc

        spark, tracer = self.ctx.spark, self.ctx.tracer
        scaled = os.path.join(self.cache, "scaled")
        events = spark.read.parquet(self.backlog)
        ctls = []
        for t in self.tables:
            df = load_table(spark, scaled, t.name)
            with tracer.span("generator.encode", group=True):
                generate_cdc(
                    df, list(t.key_columns), F.expr(TABLE_PKNUM_SQL[t.name]),
                    t.relid, t.name, spec=TABLE_SPECS.get(t.name),
                ).write.format("noop").mode("overwrite").save()
            ctls.append((df, t))
        with tracer.span("policy.fold", group=True):
            union = None
            for df, t in ctls:
                c = table_schema_events(
                    df, t.relid, topic_name(t.name, "public", None), lsn=-1
                )
                union = c if union is None else union.unionByName(c)
            ddl_registry_fold(union, ErrorPolicy("exit"))
        for relid, (name, schema) in self.schemas.items():
            sub = events.filter(F.col("relid") == relid)
            with tracer.span("materialize.compact", group=True):
                materialize(sub, schema).write.format("noop") \
                    .mode("overwrite").save()
            with tracer.span("pipeline.state_write", group=True):
                dest = os.path.join(self.ctx.work, "probe_state", name)
                materialize(sub, schema).write.parquet(dest)
                spark.read.parquet(dest).count()
        with tracer.span("pipeline.replicate", group=True):
            replicate_database(
                spark, scaled, os.path.join(self.ctx.work, "probe_replica"),
                "%", allow_unkeyed=True,
            )
        # the same micro-batches through the bucketed merge sink, the
        # keyed store that rewrites only the buckets a batch touches
        files = sorted(
            f for f in os.listdir(self.backlog) if f.endswith(".parquet")
        )[:MERGE_PROBE_FILES]
        for relid, (name, _schema) in self.schemas.items():
            sink = BucketedMergeSink(
                spark, os.path.join(self.ctx.work, "probe_sink", name), 16
            )
            for epoch, f in enumerate(files):
                batch = spark.read.parquet(os.path.join(self.backlog, f))
                with tracer.span("merge_sink.merge_batch", group=True):
                    sink.merge_batch(batch.filter(F.col("relid") == relid), epoch)

    def layer_metrics(self, spans: list[dict], attr: dict) -> dict:
        tracer = self.ctx.tracer

        def total(name, key):
            return sum(attr[s["id"]][key] for s in tracer.named(name))

        def dsum(name):
            return sum(durations(tracer.named(name)))

        batch_spans = tracer.named("stream.batch")
        traced_ops = [op for op in self.ops if op.get("span")]
        progress = [p for op in traced_ops for p in op["progress"]]
        n_batches = max(1, len(batch_spans))
        per_batch_bytes = [
            attr[s["id"]]["shuffle_bytes"] for s in batch_spans
        ]
        return {
            "generator.encode_s": dsum("generator.encode"),
            "policy.fold_s": dsum("policy.fold"),
            "materialize.compact_s": dsum("materialize.compact"),
            "materialize.shuffle_bytes": total("materialize.compact", "shuffle_bytes"),
            "materialize.spill_bytes": total("materialize.compact", "spill_bytes"),
            "pipeline.replicate_s": dsum("pipeline.replicate"),
            "pipeline.write_s": dsum("pipeline.state_write") - dsum("materialize.compact"),
            "pipeline.jobs": total("pipeline.replicate", "jobs"),
            "pipeline.tasks": total("pipeline.replicate", "tasks"),
            "stream.route_s": median([self_time(s, spans) for s in batch_spans]),
            "stream.table_merge_s": median(durations(tracer.named("stream.table_merge"))),
            "stream.trigger_overhead_s": median([
                (p.get("triggerExecution", 0) - p.get("addBatch", 0)) / 1000.0
                for p in progress
            ]),
            "stream.jobs_per_batch": sum(attr[s["id"]]["jobs"] for s in batch_spans) / n_batches,
            "stream.shuffle_bytes_per_batch": median(per_batch_bytes),
            "stream.growth_ratio": self.growth_ratio(),
            "statecommit.promote_s": median(durations(tracer.named("statecommit.promote"))),
            "statecommit.bytes_per_batch": sum(self.promote_bytes) / n_batches,
            "merge_sink.merge_batch_s": median(
                durations(tracer.named("merge_sink.merge_batch"))),
        }


# ------------------------------------------------------------------
def result_hash(pdf) -> str:
    """sha256 of a result under the exact gate's canonical cell reprs
    (column names sorted, rows sorted)."""
    from scripts.exact_gate import frame_rows

    cols, rows = frame_rows(pdf)
    return hashlib.sha256(
        json.dumps([cols, rows], ensure_ascii=False).encode()
    ).hexdigest()


def data_digest() -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(DATA_DIR)):
        with open(os.path.join(DATA_DIR, f), "rb") as fh:
            h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()


class QueryMix(Workload):
    name = "query_mix"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.rng = random.Random(ctx.seed)

    def setup(self) -> None:
        """Two untimed passes warm the JVM up. The first is also the
        correctness check: each query's collected result must hash-match
        its DuckDB oracle."""
        import __spark_entry__ as entry

        from bottledwater_pg_spark.session import release_persisted

        self.queries = entry.queries()
        with open(ORACLES) as fh:
            oracles = json.load(fh)
        if oracles["data_sha256"] != data_digest():
            raise RuntimeError("oracles.json was computed over other data")
        for name in self._order():
            self.attempted += 1
            try:
                got = result_hash(self.queries[name](self.ctx.spark, DATA_DIR).toPandas())
            except Exception as exc:  # noqa: BLE001 — count, keep going
                self.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            finally:
                release_persisted()
            if got != oracles["queries"][name]:
                self.fail(f"{name}: result hash differs from oracle")
        self._pass()

    def _order(self) -> list[str]:
        order = list(QUERY_MIX)
        self.rng.shuffle(order)
        return order

    def run_op(self, i: int) -> None:
        self.ops.append(self._pass())

    def _pass(self) -> dict:
        from bottledwater_pg_spark.session import release_persisted

        spark, tracer = self.ctx.spark, self.ctx.tracer
        steps = {}
        t_pass = time.perf_counter()
        with tracer.span("op", group=True) as rec:
            for name in self._order():
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"queries.{name}.build", group=True):
                        df = self.queries[name](spark, DATA_DIR)
                    t1 = time.perf_counter()
                    with tracer.span(f"queries.{name}.exec", group=True):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 — count, keep going
                    self.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                    continue
                finally:
                    release_persisted()
                t2 = time.perf_counter()
                steps[name] = (t1 - t0, t2 - t1)
        return {"wall": time.perf_counter() - t_pass, "queries": steps,
                "span": rec["id"] if rec else None}

    def per_query(self) -> dict[str, float]:
        return {
            name: median([sum(op["queries"][name]) for op in self.ops
                          if name in op["queries"]])
            for name in QUERY_MIX
        }

    def metrics(self) -> tuple[dict, dict]:
        """(end-to-end metrics, report detail)."""
        walls = [op["wall"] for op in self.ops]
        lat = self.per_query()
        logs = [math.log(v) for v in lat.values() if v > 0]
        geo = math.exp(sum(logs) / len(logs)) if logs else 0.0
        return {"pass_s": median(walls), "step_s": geo}, {
            "query_mix_s": median(walls),
            "query_geomean_s": geo,
            "pass_s_samples": walls,
            "passes": len(self.ops),
            "query_median_s": lat,
        }

    def layer_metrics(self, spans: list[dict], attr: dict) -> dict:
        tracer = self.ctx.tracer
        out = {}
        b_sum = e_sum = 0.0
        for name in QUERY_MIX:
            b = tracer.named(f"queries.{name}.build")
            e = tracer.named(f"queries.{name}.exec")
            n = max(1, len(e))
            pre = f"queries.{name}."
            out[pre + "build_s"] = median(durations(b))
            out[pre + "exec_s"] = median(durations(e))
            out[pre + "build_jobs"] = sum(attr[s["id"]]["jobs"] for s in b) / n
            out[pre + "exec_jobs"] = sum(attr[s["id"]]["jobs"] for s in e) / n
            out[pre + "exec_tasks"] = sum(attr[s["id"]]["tasks"] for s in e) / n
            for key in ("shuffle_bytes", "spill_bytes"):
                out[pre + key] = sum(attr[s["id"]][key] for s in b + e) / n
            b_sum += out[pre + "build_s"]
            e_sum += out[pre + "exec_s"]
        out["queries.build_s"] = b_sum
        out["queries.exec_s"] = e_sum
        return out


WORKLOADS = {w.name: w for w in (StreamCatchup, QueryMix)}
