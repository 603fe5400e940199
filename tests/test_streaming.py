"""Streaming wrapper: drain a file source with AvailableNow and check the
triples match the batch pipeline on the same input."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from kgx import aggregate, assemble, mentions, relations, resources, synth
from kgx.streaming import stream_job


def test_stream_matches_batch(spark, tmp_path):
    pdf = synth.make_transcripts(n_convs=12, turns_per_conv=6, seed=21, oversize_every=0)
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    # two files → at least two micro-batches with maxFilesPerTrigger=1;
    # split on conv boundary so conversations don't straddle batches
    convs = sorted(pdf["conv_id"].unique())
    half = len(convs) // 2
    pdf[pdf["conv_id"].isin(convs[:half])].to_parquet(f"{src_dir}/a.parquet", index=False)
    pdf[pdf["conv_id"].isin(convs[half:])].to_parquet(f"{src_dir}/b.parquet", index=False)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    source = stream_job.stream_transcripts_from_files(spark, src_dir, max_files_per_trigger=1)
    spark.catalog.clearCache()
    q = stream_job.start_kg_stream(spark, source, out_dir, ckpt, available_now=True)
    q.awaitTermination(120)
    # each micro-batch released the caches it made
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    got = (
        spark.read.parquet(out_dir)
        .drop("batch_id", "ts_day")
        .withColumn("score", F.col("score").cast("string"))
        .toPandas()
    )

    kb = resources.default_kb()
    turns = assemble.assemble_turns(spark.createDataFrame(pdf))
    wm = mentions.detect_mentions(turns, kb)
    facts, tf = relations.sentence_facts(wm, kb)
    want = (
        aggregate.all_triples(facts, tf)
        .drop("ts_day")
        .withColumn("score", F.col("score").cast("string"))
        .toPandas()
    )

    key = sorted(got.columns)
    g = sorted(map(tuple, got[key].astype(str).values.tolist()))
    w = sorted(map(tuple, want[key].astype(str).values.tolist()))
    assert g == w


def test_stateful_sessionization_emits_closed_conversations(spark, tmp_path):
    """applyInPandasWithState conversation sessionization: turns straddling
    micro-batches buffer in keyed state; a conversation is emitted exactly
    once, after the event-time watermark passes last_turn_ts + gap, with
    doc_text identical to the batch assembly (W1 ordering, J6 dedup)."""
    import time as _time

    import pandas as pd

    from kgx import schema
    from kgx.streaming import stateful

    src = str(tmp_path / "src")
    os.makedirs(src)

    def turn(conv, idx, text, ts):
        return {"conv_id": conv, "turn_idx": idx, "role": "user",
                "text": text, "tool": None, "ts": pd.Timestamp(ts)}

    files = [
        # conv A split across two batches (out-of-order turn_idx), plus a
        # duplicate delivery of (A, 1) with conflicting text -> min-text wins
        [turn("A", 1, "second turn", "2025-01-01 10:00:30"),
         turn("A", 0, "first turn", "2025-01-01 10:00:00")],
        [turn("A", 2, "third turn", "2025-01-01 10:01:00"),
         turn("A", 1, "zzz conflicting duplicate", "2025-01-01 10:00:30"),
         turn("B", 0, "only turn of B", "2025-01-01 10:30:00")],
        # sentinel 1 advances the watermark far past A/B timeouts...
        [turn("__S1", 0, "s", "2025-01-01 12:00:00")],
        # ...and sentinel 2 triggers the batch in which those timeouts fire
        [turn("__S2", 0, "s", "2025-01-01 14:00:00")],
    ]
    for i, rows in enumerate(files):
        p = f"{src}/f{i}.parquet"
        pd.DataFrame(rows).astype({"turn_idx": "int32", "tool": "string", "ts": "datetime64[us]"}).to_parquet(p, index=False)
        _time.sleep(0.05)
        os.utime(p, (1000 + i, 1000 + i))  # file order == batch order

    source = (
        spark.readStream.schema(schema.TRANSCRIPTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    docs = stateful.sessionize_conversations(
        source, gap="10 minutes", gap_ms=10 * 60 * 1000
    )
    q = (
        docs.writeStream.format("memory")
        .queryName("convdocs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["conv_id"]: r
        for r in spark.sql("SELECT * FROM convdocs").collect()
    }
    # A and B closed (watermark passed); sentinel 1 closes too (the drain
    # runs a final timer batch once sentinel 2 advanced the watermark);
    # sentinel 2's own timeout is never passed -> still open, not emitted
    assert set(got) == {"A", "B", "__S1"}
    assert "__S2" not in got
    assert got["A"]["n_turns"] == 3
    # W1 order + J6 min-text winner for the duplicated turn_idx 1
    assert got["A"]["doc_text"] == "first turn\nsecond turn\nthird turn"
    assert got["B"]["doc_text"] == "only turn of B"
    assert got["A"]["ts_min_ms"] < got["A"]["ts_max_ms"]


def test_stream_checkpoint_recovery_no_duplicates(spark, tmp_path):
    """Kill the stream mid-drain, restart from the same checkpoint: the
    batch-keyed dynamic-partition-overwrite sink + checkpointed offsets
    give exactly-once output — the final triples equal the batch pipeline,
    no duplicates from re-run batches."""
    import time as _time

    pdf = synth.make_transcripts(n_convs=12, turns_per_conv=5, seed=31, oversize_every=0)
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    convs = sorted(pdf["conv_id"].unique())
    for i in range(4):  # 4 files -> 4 micro-batches at maxFilesPerTrigger=1
        part = convs[i::4]
        pdf[pdf["conv_id"].isin(part)].to_parquet(f"{src_dir}/f{i}.parquet", index=False)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    source = stream_job.stream_transcripts_from_files(spark, src_dir, max_files_per_trigger=1)
    # phase 1: run WITHOUT availableNow, stop as soon as >=1 batch committed
    q = stream_job.start_kg_stream(spark, source, out_dir, ckpt, available_now=False)
    for _ in range(300):
        if os.path.isdir(out_dir) and any(
            f.startswith("ts_day=") for f in os.listdir(out_dir)
        ):
            break
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    # phase 2: restart from the same checkpoint, drain the rest
    source2 = stream_job.stream_transcripts_from_files(spark, src_dir, max_files_per_trigger=1)
    q2 = stream_job.start_kg_stream(spark, source2, out_dir, ckpt, available_now=True)
    q2.awaitTermination(120)

    got = (
        spark.read.parquet(out_dir)
        .drop("batch_id", "ts_day")
        .withColumn("score", F.col("score").cast("string"))
        .toPandas()
    )
    kb = resources.default_kb()
    turns = assemble.assemble_turns(spark.createDataFrame(pdf))
    wm = mentions.detect_mentions(turns, kb)
    facts, tf = relations.sentence_facts(wm, kb)
    want = (
        aggregate.all_triples(facts, tf)
        .drop("ts_day")
        .withColumn("score", F.col("score").cast("string"))
        .toPandas()
    )
    key = sorted(got.columns)
    g = sorted(map(tuple, got[key].astype(str).values.tolist()))
    w = sorted(map(tuple, want[key].astype(str).values.tolist()))
    assert g == w


def test_streaming_dedup_exact_and_watermarked(spark, tmp_path):
    """Streaming dedup: exact-once per content key across micro-batches
    (dropDuplicates state), and watermarked dedup that suppresses
    duplicates arriving within the delay but EVICTS state afterwards —
    a late re-post past the watermark re-emits (re-crawl semantics)."""
    import pandas as pd

    from kgx.streaming import dedup_stream

    def doc(i, text, ts):
        return {"doc_id": i, "text": text, "ts": pd.Timestamp(ts)}

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: two originals; batch 2: near-in-time duplicate of d0 (same
    # normalized content, different case/whitespace) + a fresh doc;
    # batch 3: a next-day doc that ADVANCES the watermark (watermark used
    # by a batch is computed from previous batches, so eviction needs a
    # batch in between); batch 4: far-future re-post of d0's content,
    # arriving after its dedup state was evicted
    batches = [
        [doc(0, "Alpha beta GAMMA", "2025-01-01 10:00:00"),
         doc(1, "delta epsilon", "2025-01-01 10:00:10")],
        [doc(2, "  alpha   BETA gamma ", "2025-01-01 10:02:00"),
         doc(3, "zeta eta", "2025-01-01 10:02:30")],
        [doc(5, "theta iota", "2025-01-02 09:00:00")],
        # the watermark a batch uses is computed from PREVIOUS batches and
        # expired state is evicted at end-of-batch, so the re-post needs
        # two batches after the watermark-advancing event: one for the
        # advanced watermark to take effect + evict, then the re-post
        [doc(6, "kappa lambda", "2025-01-02 09:10:00")],
        [doc(4, "ALPHA beta gamma", "2025-01-02 10:00:00")],
    ]
    import time as _time

    base = _time.time() - 3600
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark rejects NANOS
        path = f"{src}/b{i}.parquet"
        pdf.to_parquet(path, index=False)
        # FileStreamSource orders batches by mtime: make it explicit
        os.utime(path, (base + i * 60, base + i * 60))

    schema_str = "doc_id bigint, text string, ts timestamp"

    def drain(make_query, name):
        stream = (
            spark.readStream.schema(schema_str)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = make_query(stream)
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["doc_id"] for r in spark.sql(f"SELECT doc_id FROM {name}").collect()}

    exact = drain(dedup_stream.dedup_stream_exact, "dedup_exact_mem")
    # lifetime state: only the FIRST sighting of each content key survives
    assert exact == {0, 1, 3, 5, 6}

    wm = drain(
        lambda s: dedup_stream.dedup_stream_watermarked(s, delay="10 minutes"),
        "dedup_wm_mem",
    )
    # doc2 (duplicate within 10 min) suppressed; doc4 (next day, state
    # evicted by the watermark) re-emits
    assert wm == {0, 1, 3, 4, 5, 6}


def test_windowed_agg_drops_late_data_and_drains_on_sentinel(spark, tmp_path):
    """Watermarked tumbling-window agg (kgx.streaming.windowed): a row
    arriving after the watermark passed its window's end is DROPPED (late
    data); far-future sentinel rows advance the watermark and drain the
    final windows but never emit (their own windows never close). Sums are
    exact DECIMAL(18,2) accumulations."""
    import time as _time

    import pandas as pd

    from kgx.streaming import windowed

    src = str(tmp_path / "src")
    os.makedirs(src)

    def ev(i, ts, etype, value):
        return {"event_id": i, "ts": pd.Timestamp(ts), "event_type": etype,
                "value": value}

    # window = 1 hour, delay = 10 min. The watermark a batch uses is
    # computed from data one-to-two batches back (update lags commit), so
    # a spacer batch sits between the watermark-advancing event and the
    # late arrival.
    batches = [
        # window [10:00, 11:00)
        [ev(0, "2025-01-01 10:00:00", "click", 1.0),
         ev(1, "2025-01-01 10:10:00", "click", 2.0)],
        # advances max event time to 12:30 → watermark 12:20 downstream
        [ev(2, "2025-01-01 12:30:00", "click", 4.0)],
        # spacer: by the batch after this one the 12:20 watermark is live
        [ev(3, "2025-01-01 12:35:00", "click", 16.0)],
        # on-time row for [12:00, 13:00) + a LATE row for the already-closed
        # [10:00, 11:00) window (watermark 12:20 > window end 11:00) → dropped
        [ev(4, "2025-01-01 12:40:00", "click", 8.0),
         ev(5, "2025-01-01 10:20:00", "click", 100.0)],
        # two drain sentinels INSIDE THE SAME 1h window: the first advances
        # the watermark past every real window, the second's batch (plus the
        # trailing no-data batch) flushes closed state; their own window
        # [2030-01-01 00:00, 01:00) never closes (final watermark 00:10), so
        # no __drain row is ever emitted
        [ev(6, "2030-01-01 00:00:00", "__drain", 0.0)],
        [ev(7, "2030-01-01 00:20:00", "__drain", 0.0)],
    ]
    base = _time.time() - 3600
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = f"{src}/b{i}.parquet"
        pdf.to_parquet(path, index=False)
        os.utime(path, (base + i * 60, base + i * 60))

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = windowed.windowed_event_counts(stream, window="1 hour", delay="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("windowed_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM windowed_mem").collect()
    }
    assert rows == {
        # late event 5 (value 100.0) is NOT counted
        ("2025-01-01 10:00:00", "click"): (2, 3.0),
        ("2025-01-01 12:00:00", "click"): (3, 28.0),
        # no __drain windows: the sentinels' 2030 window never closed
    }


def test_stream_stream_join_attributes_across_batches(spark, tmp_path):
    """Watermarked stream-stream inner join (kgx.streaming.joins): a click
    in micro-batch 0 must still match a purchase arriving in micro-batch 1
    (join state buffered across triggers), while a purchase >1h after the
    click never emits."""
    import time as _time

    import pandas as pd

    from kgx.streaming import joins

    src = str(tmp_path / "src")
    os.makedirs(src)

    def ev(eid, ts, etype, uid):
        return {"event_id": eid, "ts": ts, "event_type": etype, "user_id": uid}

    batches = [
        [
            ev(1, "2025-01-01 10:00:00", "click", 7),
            ev(2, "2025-01-01 10:10:00", "purchase", 7),  # same-batch match, gap 600
            ev(3, "2025-01-01 09:00:00", "click", 8),
        ],
        [
            ev(4, "2025-01-01 10:30:00", "purchase", 7),  # cross-batch match to click 1
            ev(5, "2025-01-01 11:30:00", "purchase", 8),  # 2.5h after click 3 → no match
            ev(6, "2025-01-01 10:05:00", "purchase", 9),  # no click for user 9
        ],
    ]
    base = _time.time() - 3600
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = f"{src}/b{i}.parquet"
        pdf.to_parquet(path, index=False)
        os.utime(path, (base + i * 60, base + i * 60))

    def side(etype):
        return (
            spark.readStream.schema("event_id bigint, ts timestamp, event_type string, user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .filter(F.col("event_type") == etype)
        )

    j = joins.attribute_purchases(side("click"), side("purchase"))
    q = (
        j.writeStream.format("memory")
        .queryName("jstream_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_j"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["click_id"], r["purchase_id"]): (r["user_id"], r["gap_sec"])
        for r in spark.sql("SELECT * FROM jstream_mem").collect()
    }
    assert got == {
        (1, 2): (7, 600),
        (1, 4): (7, 1800),
    }


def test_stream_stream_outer_join_emits_null_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: an unconverted click emits a NULL
    purchase row, but only after far-future sentinel rows push the global
    watermark past its eviction horizon; the sentinels themselves never
    emit (their own horizon stays ahead of the final watermark)."""
    import time as _time

    import pandas as pd

    from kgx.streaming import joins

    src = str(tmp_path / "src")
    os.makedirs(src)

    def ev(eid, ts, etype, uid):
        return {"event_id": eid, "ts": ts, "event_type": etype, "user_id": uid}

    batches = [
        [
            ev(1, "2025-01-01 10:00:00", "click", 7),
            ev(2, "2025-01-01 10:10:00", "purchase", 7),  # matched, gap 600
            ev(3, "2025-01-01 10:00:00", "click", 8),  # never converts
        ],
        # sentinel batch 1 advances the watermark; batch 2's trigger then
        # evicts click 3 and emits its NULL row
        [ev(-1, "2030-01-01 00:00:00", "click", -1), ev(-2, "2030-01-01 00:30:00", "purchase", -2)],
        [ev(-3, "2030-01-01 00:40:00", "click", -3), ev(-4, "2030-01-01 00:45:00", "purchase", -4)],
    ]
    base = _time.time() - 3600
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = f"{src}/b{i}.parquet"
        pdf.to_parquet(path, index=False)
        os.utime(path, (base + i * 60, base + i * 60))

    def side(etype):
        return (
            spark.readStream.schema("event_id bigint, ts timestamp, event_type string, user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .filter(F.col("event_type") == etype)
        )

    j = joins.attribute_purchases_outer(side("click"), side("purchase"))
    q = (
        j.writeStream.format("memory")
        .queryName("jostream_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_jo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM jostream_mem WHERE user_id >= 0").collect()
    got = {(r["click_id"], r["purchase_id"]): r["gap_sec"] for r in rows}
    assert got == {(1, 2): 600, (3, None): None}
    # sentinel clicks must not have leaked NULL rows
    assert spark.sql("SELECT count(*) c FROM jostream_mem WHERE user_id < 0").collect()[0]["c"] == 0


def test_watermarked_dedup_boundary_virtual_clock(spark, tmp_path):
    """Pin the EMISSION TIMING of dropDuplicatesWithinWatermark at the
    exact watermark boundary, on a pure virtual clock (all timing is event
    timestamps + explicit micro-batch order via file mtimes; no wall
    clock). Original d0 at 10:00, delay 10 min ⇒ its dedup state lives
    until the watermark (max prior event ts − delay) EXCEEDS 10:10.

    Two duplicates with near-identical event times (10:12 and 10:13)
    straddle the eviction batch: the first arrives while the watermark is
    10:09 (state alive → SUPPRESSED); then one event at 10:21 pushes the
    next batch's watermark to 10:11 > 10:10 (state evicted); the second
    duplicate then RE-EMITS. Same content, 1 minute apart in event time —
    only the watermark crossing separates their fates, so this asserts the
    boundary itself, not just coarse within/after behavior."""
    import pandas as pd

    from kgx.streaming import dedup_stream

    def doc(i, text, ts):
        return {"doc_id": i, "text": text, "ts": pd.Timestamp(ts)}

    batches = [
        # b0: original
        [doc(0, "alpha beta", "2025-01-01 10:00:00")],
        # b1: max event ts 10:19 → NEXT batch's watermark = 10:09 (< 10:10)
        [doc(1, "other one", "2025-01-01 10:19:00")],
        # b2: duplicate at wm 10:09 — state alive → suppressed
        [doc(2, "Alpha   BETA", "2025-01-01 10:12:00")],
        # b3: max event ts 10:21 → NEXT batch's watermark = 10:11 (> 10:10,
        # d0 state evicted at that batch's start)
        [doc(3, "another", "2025-01-01 10:21:00")],
        # b4: watermark-advance settles + eviction happens end-of-batch
        [doc(4, "filler row", "2025-01-01 10:21:30")],
        # b5: duplicate ABOVE the 10:11 watermark, state gone → re-emits
        [doc(5, "ALPHA beta", "2025-01-01 10:13:00")],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    import time as _time

    base = _time.time() - 3600
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = f"{src}/b{i}.parquet"
        pdf.to_parquet(path, index=False)
        os.utime(path, (base + i * 60, base + i * 60))

    stream = (
        spark.readStream.schema("doc_id bigint, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = dedup_stream.dedup_stream_watermarked(stream, delay="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_wm_boundary")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_b"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM dedup_wm_boundary").collect()}
    # doc2 (dup, wm 10:09 ≤ 10:10) suppressed; doc5 (dup, wm 10:11 > 10:10)
    # re-emitted — both sides of the boundary, 1 min apart in event time
    assert got == {0, 1, 3, 4, 5}
