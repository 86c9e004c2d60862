"""Structured-Streaming-native operator tests: watermarked windows with
late data, streaming dedup, session windows, custom stateful running
totals. File-simulated source, deterministic multi-batch sequencing via
processAllAvailable between file drops (FIXTURES.md §1 shape)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from roar_spark.config import EngineConfig
from roar_spark.sources.files import file_envelope_stream, write_envelope_file
from roar_spark.streaming.ingest import parse_envelope
from roar_spark.streaming.manager import StreamEngine
from roar_spark.streaming.stateful import (
    running_totals,
    session_windows,
    streaming_dedup,
    windowed_counts,
)


def _msg(i, wire_ts, **payload):
    return {
        "key": f"k{i}",
        "value": json.dumps(payload),
        "timestamp": wire_ts,
        "offset": i,
        "partition": 0,
    }


# value must be NON-integral here: the reference's inference types integral
# JSON numbers (even 1.0) as long (kafka/consumer.go:919-924), which would
# truncate the fractional test values at coercion time
SAMPLE = [json.dumps({"event_id": 1, "kind": "view", "user_id": 1, "value": 1.5,
                      "ts": "2026-08-13T10:00:00Z"})]


def _parsed_stream(spark, src):
    engine = StreamEngine(spark, EngineConfig())
    handle = engine.register_stream("s", SAMPLE)
    return parse_envelope(file_envelope_stream(spark, src), handle.schema)


def _run_to_memory(spark, df, name, mode, src_more=None, src=None, spark_extra=None):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    try:
        q.processAllAvailable()
        if src_more:
            write_envelope_file(src, src_more, file_name="late.json")
            q.processAllAvailable()
        return spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()


def test_watermark_drops_too_late_rows(spark, tmp_path):
    src = str(tmp_path / "wm")
    # batch 1: events at 10:00 and 10:10 → watermark advances to 10:09
    write_envelope_file(
        src,
        [
            _msg(0, "2026-08-13T09:00:00Z", event_id=0, kind="view", user_id=1, value=1.0,
                 ts="2026-08-13T10:00:10Z"),
            _msg(1, "2026-08-13T09:00:01Z", event_id=1, kind="view", user_id=1, value=1.0,
                 ts="2026-08-13T10:10:00Z"),
        ],
        file_name="a.json",
    )
    parsed = _parsed_stream(spark, src)
    counts = windowed_counts(parsed, "ts", "kind", window="1 minute", watermark="1 minute")
    late = [
        # way below the 10:09 watermark → its window is finalized → dropped
        _msg(2, "2026-08-13T09:00:02Z", event_id=2, kind="view", user_id=1, value=1.0,
             ts="2026-08-13T10:00:20Z"),
        # fresh event keeps the query moving
        _msg(3, "2026-08-13T09:00:03Z", event_id=3, kind="view", user_id=1, value=1.0,
             ts="2026-08-13T10:11:00Z"),
    ]
    rows = _run_to_memory(spark, counts, "wm_counts", "append", src_more=late, src=src)
    by_window = {r.window_start.isoformat(): r["count"] for r in rows}
    # the 10:00 window finalized with count 1 — the late event_id=2 was NOT added
    assert by_window.get("2026-08-13T10:00:00") == 1


def test_streaming_dedup_across_batches(spark, tmp_path):
    src = str(tmp_path / "dd")
    write_envelope_file(
        src,
        [
            _msg(0, "2026-08-13T09:00:00Z", event_id=100, kind="view", user_id=1, value=1.0,
                 ts="2026-08-13T10:00:00Z"),
            _msg(1, "2026-08-13T09:00:01Z", event_id=100, kind="view", user_id=1, value=1.0,
                 ts="2026-08-13T10:00:01Z"),  # dup within batch
            _msg(2, "2026-08-13T09:00:02Z", event_id=101, kind="view", user_id=1, value=1.0,
                 ts="2026-08-13T10:00:02Z"),
        ],
        file_name="a.json",
    )
    parsed = _parsed_stream(spark, src)
    dedup = streaming_dedup(parsed, ["event_id"], "ts", watermark="10 minutes")
    more = [
        _msg(3, "2026-08-13T09:00:03Z", event_id=100, kind="view", user_id=1, value=1.0,
             ts="2026-08-13T10:00:03Z"),  # dup across batches → dropped by state
        _msg(4, "2026-08-13T09:00:04Z", event_id=102, kind="view", user_id=1, value=1.0,
             ts="2026-08-13T10:00:04Z"),
    ]
    rows = _run_to_memory(spark, dedup, "dd_out", "append", src_more=more, src=src)
    ids = sorted(r.event_id for r in rows)
    assert ids == [100, 101, 102]


def test_session_window_streaming(spark, tmp_path):
    src = str(tmp_path / "sw")
    write_envelope_file(
        src,
        [
            _msg(0, "2026-08-13T09:00:00Z", event_id=0, kind="view", user_id=7, value=1.0,
                 ts="2026-08-13T10:00:00Z"),
            _msg(1, "2026-08-13T09:00:01Z", event_id=1, kind="view", user_id=7, value=1.0,
                 ts="2026-08-13T10:10:00Z"),  # same session (gap 30m)
            _msg(2, "2026-08-13T09:00:02Z", event_id=2, kind="view", user_id=7, value=1.0,
                 ts="2026-08-13T12:00:00Z"),  # new session
            # watermark driver so earlier sessions can finalize in append mode
            _msg(3, "2026-08-13T09:00:03Z", event_id=3, kind="view", user_id=8, value=1.0,
                 ts="2026-08-13T15:00:00Z"),
        ],
        file_name="a.json",
    )
    parsed = _parsed_stream(spark, src)
    sess = session_windows(parsed, "ts", "user_id", gap="30 minutes", watermark="1 minute")
    rows = _run_to_memory(
        spark, sess, "sw_out", "append",
        src_more=[_msg(4, "2026-08-13T09:00:04Z", event_id=4, kind="view", user_id=8,
                       value=1.0, ts="2026-08-13T18:00:00Z")],
        src=src,
    )
    user7 = sorted(
        ((r.session_start.isoformat(), r.n_events) for r in rows if r.user_id == 7)
    )
    assert user7 == [("2026-08-13T10:00:00", 2), ("2026-08-13T12:00:00", 1)]


def test_running_totals_stateful(spark, tmp_path):
    src = str(tmp_path / "rt")
    write_envelope_file(
        src,
        [
            _msg(0, "2026-08-13T09:00:00Z", event_id=0, kind="buy", user_id=1, value=10.0,
                 ts="2026-08-13T10:00:00Z"),
            _msg(1, "2026-08-13T09:00:01Z", event_id=1, kind="buy", user_id=1, value=5.5,
                 ts="2026-08-13T10:01:00Z"),
            _msg(2, "2026-08-13T09:00:02Z", event_id=2, kind="buy", user_id=2, value=3.0,
                 ts="2026-08-13T10:02:00Z"),
        ],
        file_name="a.json",
    )
    parsed = _parsed_stream(spark, src)
    # NoTimeout: processAllAvailable never settles under a processing-time
    # timeout (see running_totals docstring); state carry-over is the thing
    # under test here
    totals = running_totals(parsed, idle_timeout_ms=None)
    q = totals.writeStream.format("memory").queryName("rt_out").outputMode("update").start()
    try:
        q.processAllAvailable()
        write_envelope_file(
            src,
            [_msg(3, "2026-08-13T09:00:03Z", event_id=3, kind="buy", user_id=1, value=4.5,
                  ts="2026-08-13T10:03:00Z")],
            file_name="b.json",
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM rt_out").collect()
    finally:
        q.stop()
    # state carries across micro-batches: user 1 ends at n=3, total=20.0
    latest = {}
    for r in rows:
        latest[r.user_id] = (r.n_events, r.total)  # memory sink appends updates in order
    assert latest[1] == (3, 20.0)
    assert latest[2] == (1, 3.0)


def test_stream_stream_join(spark, tmp_path):
    """Watermarked stream-stream join: views pair with purchases by the
    same user within 1 hour."""
    from roar_spark.streaming.stateful import stream_stream_join

    src_v = str(tmp_path / "views")
    src_p = str(tmp_path / "purchases")
    write_envelope_file(
        src_v,
        [
            _msg(0, "2026-08-13T09:00:00Z", view_id=1, user_id=7, ts="2026-08-13T10:00:00Z"),
            _msg(1, "2026-08-13T09:00:01Z", view_id=2, user_id=8, ts="2026-08-13T10:05:00Z"),
        ],
        file_name="a.json",
    )
    write_envelope_file(
        src_p,
        [
            # within 1h of view 1 (same user) → joins
            _msg(0, "2026-08-13T09:00:00Z", buy_id=10, user_id=7, ts="2026-08-13T10:30:00Z"),
            # 3h after view 2 → outside the range condition → no pair
            _msg(1, "2026-08-13T09:00:01Z", buy_id=11, user_id=8, ts="2026-08-13T13:05:00Z"),
        ],
        file_name="a.json",
    )
    engine = StreamEngine(spark, EngineConfig())
    hv = engine.register_stream(
        "v", [json.dumps({"view_id": 1, "user_id": 1, "ts": "2026-08-13T10:00:00Z"})]
    )
    hp = engine.register_stream(
        "p", [json.dumps({"buy_id": 1, "user_id": 1, "ts": "2026-08-13T10:00:00Z"})]
    )
    views = parse_envelope(file_envelope_stream(spark, src_v), hv.schema).select(
        "view_id", F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    buys = parse_envelope(file_envelope_stream(spark, src_p), hp.schema).select(
        "buy_id", F.col("user_id").alias("b_user"), F.col("ts").alias("buy_ts")
    )
    joined = stream_stream_join(
        views,
        buys,
        left_key="v_user",
        right_key="b_user",
        left_time="view_ts",
        right_time="buy_ts",
    )
    rows = _run_to_memory(spark, joined, "ssj_out", "append")
    pairs = sorted((r.view_id, r.buy_id) for r in rows)
    assert pairs == [(1, 10)]


def test_merge_evict_semantics():
    from roar_spark.streaming.stateful import merge_evict

    # normal append under cap
    kept, dropped = merge_evict([(1, 1.0)], [(2, 2.0)], cap=5)
    assert kept == [(1, 1.0), (2, 2.0)] and dropped == 0
    # eviction is oldest-first
    kept, dropped = merge_evict([(1, 1.0), (2, 2.0)], [(3, 3.0), (4, 4.0)], cap=3)
    assert kept == [(2, 2.0), (3, 3.0), (4, 4.0)] and dropped == 1
    # an incoming batch larger than the cap is still appended (reference
    # AddBatch parity): survivors come from the NEW batch, never the old
    kept, dropped = merge_evict([(1, 1.0)], [(10 + i, float(i)) for i in range(7)], cap=5)
    assert [s for s, _ in kept] == [12, 13, 14, 15, 16] and dropped == 3
    # incoming arrives unsorted → merged in seq order
    kept, _ = merge_evict([], [(3, 3.0), (1, 1.0), (2, 2.0)], cap=5)
    assert [s for s, _ in kept] == [1, 2, 3]


def test_recent_buffer_drop_oldest_across_batches(spark, tmp_path):
    from roar_spark.streaming.stateful import recent_buffer

    src = str(tmp_path / "rb")
    write_envelope_file(
        src,
        [_msg(i, "2026-08-13T09:00:00Z", event_id=i, kind="view", user_id=1,
              value=1.0 + i, ts="2026-08-13T10:00:00Z") for i in range(7)]
        + [_msg(100, "2026-08-13T09:00:00Z", event_id=100, kind="view", user_id=2,
                value=9.5, ts="2026-08-13T10:00:00Z")],
        file_name="a.json",
    )
    parsed = _parsed_stream(spark, src)
    buf = recent_buffer(parsed, key_col="user_id", seq_col="kafka_offset", cap=5)
    more = [_msg(200 + i, "2026-08-13T09:00:01Z", event_id=200 + i, kind="view",
                 user_id=1, value=50.0 + i, ts="2026-08-13T10:00:01Z") for i in range(3)]
    rows = _run_to_memory(spark, buf, "rb_out", "update", src_more=more, src=src)
    by_batch = sorted(
        ((r.user_id, r.newest_seq, r.n_buffered, r.n_dropped, r.oldest_seq) for r in rows)
    )
    # user 1 batch 1: 7 in, cap 5 → oldest two (0, 1) evicted
    assert (1, 6, 5, 2, 2) in by_batch
    # user 1 batch 2: +3 → state-backed buffer slides to seqs {5,6,200,201,202}
    assert (1, 202, 5, 3, 5) in by_batch
    # user 2: single event, no eviction
    assert (2, 100, 1, 0, 100) in by_batch


def test_chained_windowed_aggregations(spark, tmp_path):
    """Two event-time aggregations chained in one streaming query (minute
    counts → 5-minute rollup): the outer window finalizes once the shared
    watermark passes its end."""
    from roar_spark.streaming.stateful import chained_windowed_counts

    src = str(tmp_path / "cw")
    write_envelope_file(
        src,
        [
            _msg(0, "2026-08-13T09:00:00Z", event_id=0, kind="view", user_id=1, value=1.0,
                 ts="2026-08-13T10:00:10Z"),
            _msg(1, "2026-08-13T09:00:01Z", event_id=1, kind="view", user_id=1, value=1.0,
                 ts="2026-08-13T10:00:20Z"),
            _msg(2, "2026-08-13T09:00:02Z", event_id=2, kind="view", user_id=1, value=1.0,
                 ts="2026-08-13T10:01:30Z"),  # second inner window, same outer
            _msg(3, "2026-08-13T09:00:03Z", event_id=3, kind="click", user_id=2, value=1.0,
                 ts="2026-08-13T10:03:00Z"),
        ],
        file_name="a.json",
    )
    parsed = _parsed_stream(spark, src)
    rolled = chained_windowed_counts(parsed, "ts", "kind")
    mover = [
        # advances the watermark past 10:05 → outer window [10:00, 10:05) closes
        _msg(4, "2026-08-13T09:00:04Z", event_id=4, kind="view", user_id=1, value=1.0,
             ts="2026-08-13T10:07:00Z"),
    ]
    rows = _run_to_memory(spark, rolled, "cw_out", "append", src_more=mover, src=src)
    got = {(r.window_start.isoformat(), r.kind): r.n_events for r in rows}
    # 3 views across two minute-windows collapse into one 5-minute row
    assert got.get(("2026-08-13T10:00:00", "view")) == 3
    assert got.get(("2026-08-13T10:00:00", "click")) == 1


def test_streaming_dedup_within_watermark_evicts_state(spark, tmp_path):
    """Pins the dropDuplicatesWithinWatermark contract that matters at
    scale: dups inside the delay are dropped, and the key's state is
    EVICTED once the watermark passes it — so the same id re-emits after
    the delay (bounded state on an unbounded key universe), where plain
    dropDuplicates would suppress it forever."""
    from roar_spark.streaming.stateful import streaming_dedup_within_watermark

    src = str(tmp_path / "ddw")
    write_envelope_file(
        src,
        [
            _msg(0, "2026-08-13T09:00:00Z", event_id=100, kind="view", user_id=1,
                 value=1.5, ts="2026-08-13T10:00:00Z"),
            _msg(1, "2026-08-13T09:00:01Z", event_id=100, kind="view", user_id=1,
                 value=1.5, ts="2026-08-13T10:00:30Z"),  # dup within 1-min delay
        ],
        file_name="a.json",
    )
    parsed = _parsed_stream(spark, src)
    dedup = streaming_dedup_within_watermark(parsed, ["event_id"], "ts", watermark="1 minute")
    q = (
        dedup.writeStream.format("memory")
        .queryName("ddw_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark far past 10:00 + 1 min → evicts key 100
        write_envelope_file(
            src,
            [_msg(2, "2026-08-13T09:10:00Z", event_id=200, kind="view", user_id=1,
                  value=1.5, ts="2026-08-13T11:00:00Z")],
            file_name="b.json",
        )
        q.processAllAvailable()
        # same id again, well after eviction → must re-emit as a new row
        write_envelope_file(
            src,
            [_msg(3, "2026-08-13T09:10:05Z", event_id=100, kind="view", user_id=1,
                  value=1.5, ts="2026-08-13T11:00:05Z")],
            file_name="c.json",
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ddw_out").collect()
    finally:
        q.stop()
    ids = sorted(r.event_id for r in rows)
    assert ids == [100, 100, 200]


def test_curate_stream_end_to_end(spark, tmp_path):
    """The curation composite as a live stream: gates drop low-quality
    docs inside the micro-batch, the digest state drops an exact
    duplicate arriving in a LATER batch, splits are content-stable."""
    import hashlib

    from roar_spark.operators.curate import curate_stream

    good = "the quick brown fox jumps over it"
    src = str(tmp_path / "cur")
    sample = [json.dumps({"doc_id": 1, "text": good})]
    engine = StreamEngine(spark, EngineConfig())
    handle = engine.register_stream("cur", sample)
    write_envelope_file(
        src,
        [
            _msg(0, "2026-08-13T09:00:00Z", doc_id=1, text=good),
            _msg(1, "2026-08-13T09:00:01Z", doc_id=2, text="too short"),
            _msg(2, "2026-08-13T09:00:02Z", doc_id=3,
                 text="spam spam spam spam spam spam the"),  # TTR gate
        ],
        file_name="a.json",
    )
    parsed = parse_envelope(file_envelope_stream(spark, src), handle.schema)
    out = curate_stream(parsed)
    q = (
        out.writeStream.format("memory")
        .queryName("cur_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # duplicate of doc 1's text in a later batch → dropped by state;
        # a new good doc passes
        write_envelope_file(
            src,
            [
                _msg(3, "2026-08-13T09:00:03Z", doc_id=9, text=good),
                _msg(4, "2026-08-13T09:00:04Z", doc_id=4,
                     text="a calm green bird sings in the rain"),
            ],
            file_name="b.json",
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM cur_out").collect()
    finally:
        q.stop()
    by_id = {r.doc_id: r for r in rows}
    assert sorted(by_id) == [1, 4]  # 2,3 gated out; 9 deduped against 1
    assert by_id[1].digest == hashlib.md5(good.encode()).hexdigest()
    for r in rows:
        assert r.split in ("train", "val", "test")


def test_merge_evict_sorts_across_batches():
    """Out-of-order seqs ACROSS batches (kafka_offset is monotonic only
    per partition): eviction must drop the lowest SEQ, not the earliest
    arrival, and oldest/newest labels must be true seq bounds."""
    from roar_spark.streaming.stateful import merge_evict

    kept, dropped = merge_evict([(10, 1.0), (11, 2.0)], [(5, 0.5)], cap=2)
    assert [s for s, _ in kept] == [10, 11]  # seq 5 IS the oldest → evicted
    assert dropped == 1


def test_dedup_stream_bands_matches_batch_banding_and_carries_state(spark, tmp_path):
    """The streaming MinHash-band screen: on a doc_id-ordered replay of a
    corpus, the set of docs flagged non-first (sharing a band with an
    earlier doc) equals the batch banding's candidate partners — including
    a near-dup arriving in a LATER micro-batch (state carry), which is the
    case a batch recomputation cannot see."""
    from roar_spark.operators.dedup import dedup_stream_bands

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("theta", "THETA")  # 1 token differs → shares bands
    other = "one two three four five six seven eight nine ten"
    docs_b1 = [(1, base), (2, other)]
    docs_b2 = [(3, near), (4, "lone wolf text with no relatives at all ok")]

    src = str(tmp_path / "bands")
    engine = StreamEngine(spark, EngineConfig())
    handle = engine.register_stream("bands", [json.dumps({"doc_id": 1, "text": base})])
    write_envelope_file(
        src,
        [_msg(i, "2026-08-13T09:00:00Z", doc_id=d, text=t)
         for i, (d, t) in enumerate(docs_b1)],
        file_name="a.json",
    )
    parsed = parse_envelope(file_envelope_stream(spark, src), handle.schema)
    out = dedup_stream_bands(parsed)
    q = out.writeStream.format("memory").queryName("bands_out").outputMode("append").start()
    try:
        q.processAllAvailable()
        write_envelope_file(
            src,
            [_msg(10 + i, "2026-08-13T09:00:01Z", doc_id=d, text=t)
             for i, (d, t) in enumerate(docs_b2)],
            file_name="b.json",
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM bands_out").collect()
    finally:
        q.stop()

    # every doc emits one evidence row per band
    from collections import Counter

    per_doc = Counter(r.doc_id for r in rows)
    assert per_doc == {1: 4, 2: 4, 3: 4, 4: 4}
    flagged = {r.doc_id for r in rows if not r.is_first}
    owners = {r.first_doc_id for r in rows if r.doc_id == 3 and not r.is_first}
    # doc 3 (near-dup of 1, later batch) is the only candidate; its
    # evidence points at doc 1
    assert flagged == {3}
    assert owners == {1}

    # batch equivalence on the same corpus: candidate partners from the
    # batch banding == stream's flagged set (doc_id-ordered replay)
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "corpus"
    d.mkdir()
    all_docs = docs_b1 + docs_b2
    texts = [t for _, t in all_docs]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([i for i, _ in all_docs], pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array(["t"] * len(texts)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    from roar_spark.operators.dedup import (
        N_BANDS,
        N_MINHASH,
        _bucket_pairs,
        _doc_shingles,
    )
    from roar_spark.functions.text_fns import minhash_str

    sh = _doc_shingles(spark, str(d))
    sig = sh.groupBy("doc_id").agg(
        *[F.min(minhash_str(F.col("shingle"), j)).alias(f"mh{j}") for j in range(N_MINHASH)]
    )
    rpb = N_MINHASH // N_BANDS
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat(*[F.col(f"mh{b * rpb + r}") for r in range(rpb)]).alias(
                            "band_key"
                        ),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.band_key")
    batch_partners = {
        r.doc_id_b for r in _bucket_pairs(bands, "band", "band_key").collect()
    }
    assert batch_partners == flagged
