"""Error policy — the reference's ``--on-error={exit,log}`` surface
(X1), re-expressed for Spark.

Reference semantics (/root/reference/ext/error_policy.c:29-40,
kafka/bottledwater.c:417-436, README.md:244-281):

* ``exit``: halt on the first bad row — no loss, no corruption (the
  upstream retains the WAL, so processing can resume).
* ``log``: skip the bad row, keep streaming — accepts loss.

The canonical trigger is an oversized row: the reference's Avro encode
buffer grows 16 KB x4 up to a hard 1 MB cap and errors beyond it
(ext/io_util.c:3-4; spec/functional/error_handling_spec.rb:117-147
proves a 2 MB row is skipped under ``log`` and fatal under ``exit``).

Spark mapping: the guard is a filter; ``log`` keeps the good rows and
exposes the bad ones as a side output (badRecordsPath-style), ``exit``
forces a FAILFAST check — the plan still runs distributed, the
validation count is the only extra action.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_RECORD_BYTES = 1_048_576  # reference: MAX_BUFFER_LENGTH, io_util.c:3-4


class ErrorPolicy(str, Enum):
    EXIT = "exit"
    LOG = "log"


class OversizedRecordError(RuntimeError):
    """Raised under policy=exit when any record breaches the guard."""


def oversized(col: str = "new_row", max_bytes: int = MAX_RECORD_BYTES) -> Column:
    """A record is bad when its payload exceeds the encode cap.
    Null payloads (tombstones, control events) always pass."""
    return F.col(col).isNotNull() & (F.octet_length(F.col(col)) > max_bytes)


def apply_error_policy(
    events: DataFrame,
    policy: ErrorPolicy | str = ErrorPolicy.LOG,
    col: str = "new_row",
    max_bytes: int = MAX_RECORD_BYTES,
) -> tuple[DataFrame, DataFrame]:
    """Split an envelope stream into (good, bad) per the policy.

    ``log``: returns both; callers continue with ``good`` and may
    persist ``bad`` as a dead-letter side output.
    ``exit``: counting any bad record raises OversizedRecordError —
    the count is evaluated eagerly, mirroring the reference's
    halt-before-producing behavior.
    """
    is_bad = oversized(col, max_bytes)
    bad = events.filter(is_bad)
    good = events.filter(~is_bad)
    policy = ErrorPolicy(policy)
    if policy is ErrorPolicy.EXIT:
        n_bad = bad.count()
        if n_bad:
            raise OversizedRecordError(
                f"{n_bad} record(s) exceed {max_bytes} bytes "
                f"(policy=exit; reference README.md:244-281)"
            )
    return good, bad


def with_observed_error_metrics(
    events: DataFrame,
    col: str = "new_row",
    max_bytes: int = MAX_RECORD_BYTES,
):
    """Single-pass error accounting: filter the bad rows out AND count
    them as an ``Observation`` side-channel of the SAME job — no second
    scan of the stream (``apply_error_policy`` prices the bad-row count
    as an extra action; at 100 TB that extra pass matters).

    Returns ``(good_df, observation)``; read
    ``observation.get["n_oversized"]`` after an action on ``good_df``.
    On the streaming path the same call works with
    ``df.observe(name, ...)`` + a StreamingQueryListener picking the
    metrics off each progress event.
    """
    from pyspark.sql import Observation

    obs = Observation()
    bad = oversized(col, max_bytes)
    observed = events.observe(
        obs,
        F.coalesce(F.sum(bad.cast("long")), F.lit(0)).alias(
            "n_oversized"
        ),
        F.count(F.lit(1)).alias("n_seen"),
    )
    return observed.filter(~bad), obs


class SchemaRegistrationError(RuntimeError):
    """Raised under policy=exit when a table's in-band TableSchema
    announcement cannot be registered (the reference's registry-POST /
    topic-metadata failure, kafka/table_mapper.c:88-118)."""


def apply_ddl_error_policy(
    events: DataFrame,
    policy: ErrorPolicy | str = ErrorPolicy.LOG,
):
    """Error policy composed with DDL: fold every in-band TableSchema
    control event through the table registry; an announcement whose
    schema fails to register is a failed registration.

    Reference semantics (table_mapper.c:88-118, the error-strategy
    discussion that lands on option (b); topic_spec.rb's
    autocreate-off crash matrix exercises it end-to-end):

    * ``exit``  — halt on the first failed registration, state intact.
    * ``log``   — mark THAT table deleted from the registry; its
      events from the failure point on are dropped, every other
      table keeps flowing.

    Returns ``(good_events, registry)``. The control-event collect is
    O(#schema changes) driver-side metadata; the drop is one
    distributed filter against a literal (relid, lsn) list — no
    shuffle, no per-row Python.
    """
    registry, fail_at = ddl_registry_fold(events, policy)
    if not fail_at:
        return events, registry
    dropped = None
    for relid, lsn in fail_at.items():
        c = (F.col("relid") == relid) & (F.col("lsn") >= lsn)
        dropped = c if dropped is None else (dropped | c)
    return events.filter(~dropped), registry


def ddl_registry_fold(
    ctl_source: DataFrame,
    policy: ErrorPolicy | str = ErrorPolicy.LOG,
):
    """The registry fold of :func:`apply_ddl_error_policy` on its own:
    collect the TableSchema announcements from ``ctl_source``, fold
    them newest-last by lsn, and return ``(registry, fail_at)`` where
    ``fail_at`` maps a failed relid to the lsn of its failed
    registration. Split out so a caller that already holds the
    control-event stream separately (the batch ``replicate_database``
    loop builds its announcements driver-side, one 1-row frame per
    table) can fold WITHOUT running a job against the full interleaved
    union — at N tables the union's Catalyst optimization alone costs
    seconds per job, all to re-extract rows the caller constructed.
    ``ctl_source`` may be any envelope stream; only rows with
    ``op = 'table_schema'`` are read."""
    import json as _json

    from pyspark.sql import types as T

    from bottledwater_pg_spark.sources.registry import TableRegistry

    registry = TableRegistry()
    policy = ErrorPolicy(policy)
    fail_at: dict[int, int] = {}
    ctl = sorted(
        ctl_source.filter(F.col("op") == "table_schema")
        .select("relid", "lsn", "schema_json", "topic")
        .collect(),
        key=lambda r: r["lsn"],
    )
    for r in ctl:
        if r["relid"] in fail_at:
            continue
        try:
            T.StructType.fromJson(_json.loads(r["schema_json"]))
        except Exception as exc:
            if policy is ErrorPolicy.EXIT:
                raise SchemaRegistrationError(
                    f"relid {r['relid']} schema registration failed at "
                    f"lsn {r['lsn']} (policy=exit)"
                ) from exc
            _table = r["topic"].rsplit(".", 1)[-1]
            registry.update(r["relid"], _table, topic=r["topic"])
            registry.mark_failed(r["relid"])
            fail_at[r["relid"]] = r["lsn"]
            continue
        # the envelope carries the wire topic, not the bare table name:
        # store the topic verbatim (last dot-segment = table) so a
        # prefixed stream does not get the prefix re-applied
        registry.update(
            r["relid"],
            r["topic"].rsplit(".", 1)[-1],
            row_schema_json=r["schema_json"],
            topic=r["topic"],
        )
    return registry, fail_at
