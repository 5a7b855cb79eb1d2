"""Property-based tests (hypothesis) — beyond the reference's test
strategy, which has no property tests at all (SURVEY §5). Each
property pins an algebraic law of a core operator against a trivially
correct pure-Python model on randomized inputs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# one event: (key, op, lsn). Payload is derived from lsn so the
# winning payload is checkable.
_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key space small -> collisions
        st.sampled_from(["insert", "update", "delete"]),
        st.integers(min_value=0, max_value=100),
    ),
    min_size=1,
    max_size=25,
)


def _model_compact(rows):
    """Pure-Python latest-by-(key, max lsn) with Spark max_by tie
    semantics out of scope: generated lsns are made unique per key."""
    state = {}
    for k, op, lsn in rows:
        cur = state.get(k)
        if cur is None or lsn > cur[0]:
            state[k] = (lsn, op)
    return {k: v for k, v in state.items()}


def _unique_lsns(raw):
    """Make lsn unique per key (duplicate (key, lsn) winners would be
    tie-broken arbitrarily in both models — not the law under test)."""
    seen: dict[tuple[int, int], int] = {}
    rows = []
    for k, op, lsn in raw:
        bump = seen.get((k, lsn), 0)
        seen[(k, lsn)] = bump + 1
        rows.append((k, op, lsn * 1000 + bump))
    return rows


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_events)
def test_compact_matches_pure_python_fold(spark, raw):
    from bottledwater_pg_spark.operators.materialize import compact

    rows = _unique_lsns(raw)

    df = spark.createDataFrame(
        [
            (f'{{"k":{k}}}', op, lsn, f'{{"payload":{lsn}}}' if op != "delete" else None)
            for k, op, lsn in rows
        ],
        "key string, op string, lsn long, new_row string",
    )
    got = {
        r["key"]: (r["lsn"], r["op"]) for r in compact(df).collect()
    }
    want = {
        f'{{"k":{k}}}': v for k, v in _model_compact(rows).items()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_events, st.randoms(use_true_random=False))
def test_streaming_merge_matches_pure_python_fold(spark, tmp_path, raw, rnd):
    """Any split of the events into micro-batches, lsns out of order
    across batches and one batch replayed at the end, leaves the
    materializer's state equal to the latest-by-lsn model of all the
    events: tombstones kept, each winner's topic carried."""
    import tempfile

    from bottledwater_pg_spark.streaming.stream import StreamingMaterializer

    rows = _unique_lsns(raw)
    rnd.shuffle(rows)
    # at most 4 batches: each costs two Spark jobs
    n_cuts = rnd.randint(0, min(3, len(rows) - 1))
    cuts = sorted(rnd.sample(range(1, len(rows)), n_cuts))
    batches = [rows[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]
    batches.append(rnd.choice(batches))

    def envelope(k, op, lsn):
        payload = None if op == "delete" else f'{{"payload":{lsn}}}'
        return (f'{{"k":{k}}}', op, lsn, payload, f"t{lsn % 3}")

    with tempfile.TemporaryDirectory(dir=tmp_path) as state:
        mat = StreamingMaterializer(spark, state, None)
        for epoch, rows_in in enumerate(batches):
            mat.process_batch(
                spark.createDataFrame(
                    [envelope(*r) for r in rows_in],
                    "key string, op string, lsn long, new_row string, "
                    "topic string",
                ),
                epoch,
            )
        got = sorted(tuple(r) for r in mat.read_state().collect())
    want = sorted(
        envelope(k, op, lsn) for k, (lsn, op) in _model_compact(rows).items()
    )
    assert got == want


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_events)
def test_ivm_count_matches_model(spark, raw):
    """The signed-count fold equals replaying the sequence row-by-row,
    for ANY event sequence whose images are consistent (insert/update
    carry +1 new, update/delete carry -1 old)."""
    from pyspark.sql import types as T

    from bottledwater_pg_spark.operators.ivm import incremental_group_agg

    # build a CONSISTENT event stream from the random ops: per key,
    # force the legal lifecycle insert -> update* -> delete?
    by_key: dict[int, list[str]] = {}
    for k, op, _ in raw:
        by_key.setdefault(k, []).append(op)
    rows, model_count = [], 0
    lsn = 0
    for k, ops in by_key.items():
        alive = False
        val = float(k)
        for op in ops:
            lsn += 1
            if op == "insert" and not alive:
                rows.append(("insert", f'{{"k":{k}}}', None, f'{{"g":"x","v":{val}}}', lsn))
                alive = True
                model_count += 1
            elif op == "update" and alive:
                rows.append(
                    ("update", f'{{"k":{k}}}', f'{{"g":"x","v":{val}}}',
                     f'{{"g":"x","v":{val + 1}}}', lsn)
                )
                val += 1
            elif op == "delete" and alive:
                rows.append(("delete", f'{{"k":{k}}}', f'{{"g":"x","v":{val}}}', None, lsn))
                alive = False
                model_count -= 1
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "op string, key string, old_row string, new_row string, lsn long"
    )
    out = incremental_group_agg(
        df, T.StructType.fromDDL("g string, v double"), "g", "v"
    ).collect()
    got = out[0]["n_rows"] if out else 0
    assert got == model_count


def test_deletion_neighborhood_blocking_is_complete_for_random_edits(spark):
    """Completeness property of symmetric-delete blocking: for 150
    randomized (base, edited) pairs with <= 2 random edits applied
    (substitution / insertion / deletion), every pair whose true
    levenshtein is <= 2 MUST appear in edit_distance_pairs(max_dist=2).
    All cases run as ONE Spark job."""
    import random
    import string

    from bottledwater_pg_spark.operators.fuzzy import edit_distance_pairs

    rng = random.Random(42)
    alphabet = string.ascii_lowercase
    rows, expected = [], set()
    for i in range(150):
        base = "".join(rng.choice(alphabet) for _ in range(rng.randint(2, 14)))
        edited = list(base)
        for _ in range(rng.randint(0, 2)):
            kind = rng.choice(["sub", "ins", "del"])
            if kind == "sub" and edited:
                edited[rng.randrange(len(edited))] = rng.choice(alphabet)
            elif kind == "ins":
                edited.insert(rng.randrange(len(edited) + 1), rng.choice(alphabet))
            elif kind == "del" and len(edited) > 1:
                del edited[rng.randrange(len(edited))]
        a_id, b_id = 2 * i, 2 * i + 1
        rows += [(a_id, base), (b_id, "".join(edited))]
        expected.add((a_id, b_id))
    df = spark.createDataFrame(rows, "sid long, s string")
    found = {
        (r["a_id"], r["b_id"])
        for r in edit_distance_pairs(df, "sid", "s", max_dist=2).collect()
    }
    # every constructed same-pair (distance <= 2 by construction,
    # excluding identical strings which still qualify at distance 0)
    missing = expected - found
    # pairs where the edit script happened to produce the identical
    # string are still distance 0 <= 2 and must be found too
    assert not missing, f"blocking missed {len(missing)} true pairs: {sorted(missing)[:5]}"


def test_winnow_guarantee_holds_for_random_embedded_passages(spark):
    """Winnowing guarantee property: 100 randomized doc pairs sharing
    an embedded passage of length >= k + w - 1 (k=8, w=4 -> 11) must
    each share >= 1 selected fingerprint. One Spark job."""
    import random
    import string

    from bottledwater_pg_spark.functions.text import kgram_hashes, winnow_mins

    rng = random.Random(7)

    def rand_text(n):
        return "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(n))

    rows = []
    for i in range(100):
        passage = rand_text(rng.randint(11, 40))
        rows.append((2 * i, rand_text(rng.randint(0, 30)) + passage + rand_text(rng.randint(0, 30))))
        rows.append((2 * i + 1, rand_text(rng.randint(0, 30)) + passage + rand_text(rng.randint(0, 30))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = (
        docs.withColumn("_g", kgram_hashes("text", 8))
        .select("doc_id", F.explode(winnow_mins("_g", 4)).alias("fp"))
        .distinct()
    )
    pair = (F.col("doc_id") / 2).cast("long")
    shared_pairs = {
        r["p"]
        for r in fps.withColumn("p", pair)
        .groupBy("p", "fp")
        .count()
        .filter(F.col("count") == 2)
        .select("p")
        .distinct()
        .collect()
    }
    assert shared_pairs == set(range(100)), (
        f"pairs missing a shared fingerprint: {sorted(set(range(100)) - shared_pairs)[:5]}"
    )


@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_ppm_codec_roundtrip_property(w, h, seed):
    """decode(encode(img)) == img for arbitrary dims and pixel bytes —
    including bytes that look like header whitespace."""
    import numpy as np

    from bottledwater_pg_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    w2, h2, back = decode_ppm(encode_ppm(w, h, px))
    assert (w2, h2) == (w, h)
    assert np.array_equal(back, px)


@given(junk=st.binary(max_size=64))
@settings(max_examples=80, deadline=None)
def test_ppm_decode_never_crashes_on_garbage(junk):
    """decode_ppm on arbitrary bytes either returns a well-formed
    (w, h, pixels) or raises ValueError — never IndexError/segfault-
    class surprises (malformed headers, truncated buffers, huge dims)."""
    from bottledwater_pg_spark.operators.multimodal import decode_ppm

    for data in (junk, b"P6" + junk, b"P6\n" + junk):
        try:
            w, h, px = decode_ppm(data)
        except ValueError:
            continue
        assert px.shape == (h, w, 3)


# ------------------------- pure-Python codec properties (no Spark)


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(),
                      st.integers(min_value=-2**63, max_value=2**63 - 1)),
            st.one_of(st.none(), st.text(max_size=40)),
            st.one_of(st.none(),
                      st.floats(allow_nan=False, width=64)),
            st.one_of(st.none(), st.binary(max_size=32)),
            st.one_of(st.none(), st.booleans()),
        ),
        max_size=20,
    )
)
@settings(deadline=None)
def test_avro_record_roundtrip_property(rows):
    """Any sequence of nullable (long, string, double, bytes, boolean)
    records decodes back bit-identically from one concatenated Avro
    binary buffer — including the stream property (records are
    self-delimiting, so concatenation needs no separators)."""
    from bottledwater_pg_spark.sources.avro_codec import (
        decode_record,
        encode_record,
    )

    fields = [
        ("a", ["null", "long"]),
        ("b", ["null", "string"]),
        ("c", ["null", "double"]),
        ("d", ["null", "bytes"]),
        ("e", ["null", "boolean"]),
    ]
    buf = b"".join(
        encode_record(fields, dict(zip("abcde", r))) for r in rows
    )
    pos = 0
    for r in rows:
        rec, pos = decode_record(fields, buf, pos)
        assert rec == dict(zip("abcde", r))
    assert pos == len(buf)


@given(
    st.integers(min_value=1, max_value=96000),
    st.lists(st.integers(min_value=-32768, max_value=32767), max_size=200),
)
@settings(deadline=None)
def test_wav_codec_roundtrip_property(rate, samples):
    import numpy as np

    from bottledwater_pg_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    arr = np.array(samples, dtype=np.int16)
    got_rate, got = decode_wav(encode_wav(rate, arr))
    assert got_rate == rate
    assert (got == arr).all()


def test_avro_spec_pinned_examples():
    """The Avro 1.11 spec's own binary-encoding examples, byte-for-byte
    (spec §Binary Encoding: zigzag longs 0..-64..64, string 'foo') —
    protects the now-load-bearing pure-Python E1 path against codec
    drift."""
    from bottledwater_pg_spark.sources.avro_codec import (
        read_long,
        write_long,
    )

    spec = {
        0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03", 2: b"\x04",
        -64: b"\x7f", 64: b"\x80\x01",
    }
    for n, wire in spec.items():
        buf = bytearray()
        write_long(buf, n)
        assert bytes(buf) == wire, n
        back, pos = read_long(bytes(buf), 0)
        assert back == n and pos == len(wire)
    # string framing: length-prefixed utf8 — 'foo' -> 06 66 6f 6f
    from bottledwater_pg_spark.sources.avro_codec import (
        decode_record,
        encode_record,
    )

    enc = encode_record([("s", "string")], {"s": "foo"})
    assert enc == b"\x06foo"
    assert decode_record([("s", "string")], enc)[0] == {"s": "foo"}


def test_avro_codec_adversarial_values():
    """Adversarial wire values: 64-bit zigzag extremes, non-BMP UTF-8,
    NaN / -0.0 doubles, embedded-NUL bytes, float denormals — every
    one must round-trip bit-exactly (or, for NaN under a null union,
    take the null branch: pandas hands null bigints back as NaN)."""
    import math
    import struct

    from bottledwater_pg_spark.sources.avro_codec import (
        decode_record,
        encode_record,
    )

    fields = [
        ("l", ["null", "long"]),
        ("s", ["null", "string"]),
        ("d", ["null", "double"]),
        ("f", ["null", "float"]),
        ("b", ["null", "bytes"]),
    ]

    def rt(row):
        enc = encode_record(fields, row)
        dec, pos = decode_record(fields, enc)
        assert pos == len(enc)
        return dec

    # zigzag extremes
    for n in (2**63 - 1, -(2**63), 2**62, -(2**62) - 1, 0x7FFFFFFF):
        assert rt({"l": n})["l"] == n
    # non-BMP UTF-8 (surrogate-pair range) + combining marks
    for s in ("\U0001d11e\U0001f4a9", "é̂", "", "\x00nul\x00"):
        assert rt({"s": s})["s"] == s
    # doubles: -0.0 keeps its sign bit; denormal min survives. A
    # genuine float NaN is DATA on a double/float branch — the
    # reference wire encodes it as the IEEE754 payload, not null —
    # while pd.NA / None still take the null branch (the pandas
    # int64->float64 promotion case is pinned in the next test, where
    # the union's non-null branch is an INTEGER type)
    d = rt({"d": -0.0})["d"]
    assert d == 0.0 and math.copysign(1.0, d) == -1.0
    assert math.isnan(rt({"d": float("nan")})["d"])
    assert math.isnan(rt({"f": float("nan")})["f"])
    assert rt({"d": None})["d"] is None
    enc = encode_record([("d", "double")], {"d": float("nan")})
    dec, _ = decode_record([("d", "double")], enc)
    assert math.isnan(dec["d"])
    tiny = struct.unpack("<d", struct.pack("<q", 1))[0]  # 5e-324
    assert rt({"d": tiny})["d"] == tiny
    assert rt({"f": float(struct.unpack("<f", b"\x01\x00\x00\x00")[0])})[
        "f"
    ] == struct.unpack("<f", b"\x01\x00\x00\x00")[0]
    # bytes with NULs and 0xFF
    blob = b"\x00\xff" * 17
    assert rt({"b": blob})["b"] == blob


def test_avro_codec_pandas_null_scalars_take_null_branch():
    """mapInPandas feeds the encoder pandas-promoted nulls: float NaN
    where a nullable long was null, and pd.NA — both must encode the
    NULL union branch (the reference wire emits null, not NaN), and a
    null bigint must not crash int(NaN)."""
    import numpy as np
    import pandas as pd

    from bottledwater_pg_spark.sources.avro_codec import (
        decode_record,
        encode_record,
    )

    import math

    fields = [("l", ["null", "long"]), ("d", ["null", "double"])]
    # pd.NA / None: null branch on every type
    for null in (pd.NA, None):
        enc = encode_record(fields, {"l": null, "d": null})
        assert enc == b"\x00\x00"  # both union index 0 = null
        assert decode_record(fields, enc)[0] == {"l": None, "d": None}
    # float NaN: null on the INTEGER branch (pandas int64->float64
    # promotion means "missing"), but genuine data on the double
    # branch (the reference wire carries NaN as NaN)
    for nan in (float("nan"), np.nan):
        enc = encode_record(fields, {"l": nan, "d": nan})
        dec = decode_record(fields, enc)[0]
        assert dec["l"] is None
        assert math.isnan(dec["d"])


def test_avro_frames_distinguish_null_from_nan_doubles(spark):
    """The production encode path (avro_frames mapInPandas) must put a
    SQL NULL double on the wire's null branch and a genuine NaN on the
    double branch — the pandas float64 conversion collapses both to
    NaN, so the JVM-computed null mask is what keeps them apart."""
    import math

    from pyspark.sql import functions as F

    from bottledwater_pg_spark.sources.avro_codec import (
        avro_fields_for,
        avro_frames,
        decode_frames,
    )

    df = spark.createDataFrame(
        [(1, 1.5), (2, None), (3, float("nan"))], "id bigint, v double"
    )
    frames = avro_frames(df, ["id"], ["id", "v"])
    key_f = avro_fields_for(df.schema, ["id"])
    val_f = avro_fields_for(df.schema, ["id", "v"])
    back = {
        r["id"]: r["v"]
        for r in decode_frames(frames, key_f, val_f).collect()
    }
    assert back[1] == 1.5
    assert back[2] is None          # SQL NULL -> wire null branch
    assert math.isnan(back[3])      # genuine NaN -> IEEE754 payload


# ------------------------------- exact-substring spans vs brute force

_span_corpus = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=30
    ),
    min_size=2,
    max_size=6,
)


def _brute_spans(docs: list[list[str]], k: int) -> dict[int, tuple]:
    """Reference implementation: per doc, the union of token intervals
    [p, p+k-1] whose k-gram occurs in at least one OTHER doc; returns
    {doc_id: (n_spans, dup_tokens, n_tokens)}."""
    from collections import defaultdict

    where = defaultdict(set)
    for i, toks in enumerate(docs):
        for p in range(len(toks) - k + 1):
            where[tuple(toks[p:p + k])].add(i)
    out = {}
    for i, toks in enumerate(docs):
        marks = [False] * len(toks)
        for p in range(len(toks) - k + 1):
            if len(where[tuple(toks[p:p + k])] - {i}) > 0:
                for q in range(p, p + k):
                    marks[q] = True
        spans, j = [], 0
        while j < len(marks):
            if marks[j]:
                s = j
                while j < len(marks) and marks[j]:
                    j += 1
                spans.append(j - s)
            else:
                j += 1
        if spans:
            out[i + 1] = (len(spans), sum(spans), len(toks))
    return out


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_span_corpus)
def test_exact_substring_spans_matches_bruteforce(spark, corpus):
    """The positional-k-gram + interval-union plan equals a direct
    per-position marking over random tiny-alphabet corpora (heavy
    overlap by construction, so island merging and the cross-doc
    min/max rule both get exercised)."""
    from bottledwater_pg_spark.operators.llm_queries import (
        exact_substring_spans,
    )

    k = 3
    docs = spark.createDataFrame(
        [(i + 1, " ".join(toks)) for i, toks in enumerate(corpus)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["dup_tokens"], r["n_tokens"])
        for r in exact_substring_spans(spark, "", docs=docs, k=k).collect()
    }
    want = _brute_spans(corpus, k)
    assert got == want


# ------------------------------------ triangle counts vs brute force

_edge_lists = st.lists(
    st.tuples(st.integers(1, 12), st.integers(1, 12)),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_edge_lists)
def test_triangle_counts_match_bruteforce(spark, raw_edges):
    """Degree-ordered triangle counting equals brute-force triple
    enumeration on random multigraphs (self-loops and duplicate edges
    are canonicalized away first, as the operator contract requires
    distinct a<b pairs)."""
    from itertools import combinations

    from bottledwater_pg_spark.operators.graph import triangle_counts

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not edges:
        return
    adj = set(edges)
    nodes = sorted({n for e in edges for n in e})
    want = {}
    for u, v, w in combinations(nodes, 3):
        if (u, v) in adj and (v, w) in adj and (u, w) in adj:
            for n in (u, v, w):
                want[n] = want.get(n, 0) + 1
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(
            spark.createDataFrame(edges, "a long, b long")
        ).collect()
    }
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_edge_lists, st.integers(2, 4))
def test_kcore_matches_python_peel(spark, raw_edges, k):
    """Distributed k-core peeling equals the sequential reference
    (repeatedly delete all nodes with alive-degree < k) on random
    graphs, including the within-core degrees."""
    from collections import defaultdict

    from bottledwater_pg_spark.operators.graph import kcore_members

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not edges:
        return
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    alive = set(adj)
    while True:
        doomed = {n for n in alive if len(adj[n] & alive) < k}
        if not doomed:
            break
        alive -= doomed
    want = {n: len(adj[n] & alive) for n in alive}
    got = {
        r["node"]: r["core_deg"]
        for r in kcore_members(
            spark.createDataFrame(edges, "a long, b long"),
            k=k, max_rounds=16,
        ).collect()
    }
    assert got == want


@given(
    n=st.integers(min_value=1, max_value=120_000),
    groups=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=999),
)
@settings(max_examples=8, deadline=None)
def test_own_register_hll_cross_engine_and_error_bound(
    spark, n, groups, seed
):
    """Own-register HLL property (random cardinality x group count x
    id offset): DuckDB replays the Spark estimate bit-exactly through
    BOTH branches (linear counting below ~2.5m, harmonic above), and
    the estimate stays within 6% of truth (m=4096 -> 1.6% standard
    error; 6% ~ 3.75 sigma, comfortably rare at 8 draws)."""
    import duckdb

    from bottledwater_pg_spark.operators.queries import (
        _HLL_RMAX,
        HLL_OWN_SQL,
        hll_estimate_cols,
        hll_own_registers,
    )

    ev = spark.range(n).select(
        (F.col("id") % groups).cast("string").alias("event_type"),
        (F.col("id") + seed * 1_000_003).alias("user_id"),
    )
    regs = hll_own_registers(ev, ["event_type"], "user_id")
    est = (
        regs.groupBy("event_type")
        .agg(
            F.count("*").alias("_present"),
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RMAX} - r)")
            ).alias("_s_present"),
        )
        .select(
            "event_type",
            hll_estimate_cols("_present", "_s_present").alias("approx"),
        )
    )
    got = {r["event_type"]: r["approx"] for r in est.collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT CAST(range % {groups} AS VARCHAR)"
        f" AS event_type, range + {seed * 1_000_003} AS user_id"
        f" FROM range({n})"
    )
    for typ, approx, exact in con.execute(HLL_OWN_SQL).fetchall():
        assert got[typ] == approx, (typ, got[typ], approx)
        assert abs(approx - exact) / exact <= 0.06, (typ, approx, exact)


_gopher_word = st.one_of(
    st.sampled_from(["the", "and", "of", "to"]),          # stopwords
    st.sampled_from(["ab", "xy"]),                         # short words
    st.text(alphabet="abcdefgh", min_size=3, max_size=12),  # normal
    st.sampled_from(["samething", "repeatme"]),            # dup fodder
)
_gopher_doc = st.lists(_gopher_word, min_size=1, max_size=120).map(
    " ".join
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_gopher_doc, min_size=1, max_size=12))
def test_gopher_flags_match_pure_python_model(spark, texts):
    """gopher_quality_flags equals a pure-Python re-derivation of the
    four rules for ANY token stream — the engine's array expressions
    and the naive model must agree on every rule, per doc, summed."""
    from bottledwater_pg_spark.functions.text import STOPWORDS_EN
    from bottledwater_pg_spark.operators.llm_queries import (
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_DISTINCT_STOPWORDS,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_WORDS,
        GOPHER_TTR_DEN,
        GOPHER_TTR_NUM,
        gopher_quality_flags,
    )

    want = {"wc": 0, "wl": 0, "sw": 0, "ttr": 0, "ok": 0}
    for t in texts:
        toks = t.split()
        n_tok, n_chr = len(toks), sum(len(x) for x in toks)
        n_stop = len(set(toks) & set(STOPWORDS_EN))
        n_types = len(set(toks))
        f_wc = n_tok < GOPHER_MIN_WORDS or n_tok > GOPHER_MAX_WORDS
        f_wl = (
            n_chr < GOPHER_MIN_MEAN_WORD_LEN * n_tok
            or n_chr > GOPHER_MAX_MEAN_WORD_LEN * n_tok
        )
        f_sw = n_stop < GOPHER_MIN_DISTINCT_STOPWORDS
        f_ttr = n_types * GOPHER_TTR_DEN < n_tok * GOPHER_TTR_NUM
        want["wc"] += f_wc
        want["wl"] += f_wl
        want["sw"] += f_sw
        want["ttr"] += f_ttr
        want["ok"] += not (f_wc or f_wl or f_sw or f_ttr)
    docs = spark.createDataFrame(
        [(i, "s", t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string",
    )
    got = gopher_quality_flags(spark, "ignored", corpus=docs).collect()[0]
    assert got.n_docs == len(texts)
    assert got.n_fail_wordcount == want["wc"]
    assert got.n_fail_wordlen == want["wl"]
    assert got.n_fail_stopwords == want["sw"]
    assert got.n_fail_ttr == want["ttr"]
    assert got.n_pass == want["ok"]


def _unimax_reference(sizes, budget, cap):
    """Pure-Python model of the closed-form UniMax spec
    (sampling.unimax_allocations): ascending by (capacity, stratum);
    capped prefix via exact cross-multiplication; residual splits
    R DIV m with the remainder to the first R % m uncapped."""
    rows = sorted(((s * cap, name, s) for name, s in sizes),
                  key=lambda t: (t[0], t[1]))
    n = len(rows)
    prefix = 0
    chain = True
    capped = []
    for i, (c, name, s) in enumerate(rows, start=1):
        # capped set is the longest prefix satisfying the predicate —
        # the chain breaks permanently at the first failure
        chain = chain and c * (n - i + 1) <= budget - prefix
        capped.append(chain)
        if chain:
            prefix += c
    k = sum(capped)
    m = n - k
    resid = budget - prefix
    out = {}
    for i, (c, name, s) in enumerate(rows, start=1):
        if capped[i - 1]:
            alloc = c
        else:
            alloc = resid // m + (1 if i - k <= resid % m else 0)
        out[name] = (int(capped[i - 1]), alloc)
    return out


@given(
    st.lists(
        st.tuples(st.text(alphabet="abcdefgh", min_size=1, max_size=3),
                  st.integers(1, 10_000)),
        min_size=1, max_size=8,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 200_000),
    st.integers(1, 5),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_unimax_matches_pure_python_model(spark, sizes, budget, cap):
    """The Spark window/agg waterfill equals an independent pure-
    Python model on arbitrary inputs, and the paper's invariants hold:
    allocation never exceeds capacity, capped rows take exactly their
    capacity, and the total allocated is min(budget, total capacity)
    whenever anything is uncapped (uncapped absorbs ALL residual)."""
    from bottledwater_pg_spark.operators.sampling import (
        unimax_allocations,
    )

    df = spark.createDataFrame(sizes, "lang string, n_tokens long")
    got = {r.lang: (r.capped, r.allocation, r.capacity)
           for r in unimax_allocations(df, budget, cap).collect()}
    ref = _unimax_reference(sizes, budget, cap)
    assert {k: v[:2] for k, v in got.items()} == ref
    total_cap = sum(s * cap for _, s in sizes)
    total_alloc = sum(v[1] for v in got.values())
    assert all(v[1] <= v[2] for v in got.values())
    if any(v[0] == 0 for v in got.values()):
        assert total_alloc == min(budget, total_cap)
    else:
        assert total_alloc == total_cap <= budget
