"""Round-5 tests: batched BPE trainer exactness + job bound, registry
evidence-freshness invariant, dangling-indicator range check, NULL-group
cap contract."""

from __future__ import annotations

import glob
import json
import os

import pyspark.sql.functions as F
import pytest

from kgx import cache

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# ---------------------------------------------------------------- BPE ----


def _py_bpe_train(word_freq: dict, n_merges: int):
    """Sequential reference trainer (pure Python, greedy leftmost merges,
    most frequent pair first, lexicographic tie-break) — the ground truth
    the batched trainer must match merge-for-merge."""
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, f in word_freq.items():
            syms = list(w)
            for a, b in merges:
                out = []
                for x in syms:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                syms = out
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + f
                )
        if not counts:
            break
        top = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append(top[0])
    return merges


def _py_bpe_train_batched(word_freq: dict, n_merges: int, batch_k: int):
    """Pure-Python twin of bpe_train's batched-greedy rule: per recount,
    walk the top 4*batch_k candidates in (cnt desc, lexicographic) order,
    accept up to batch_k skipping symbol conflicts and output collisions,
    fall back to the top candidate if everything conflicts."""
    merges: list[tuple[str, str]] = []
    outputs: set[str] = set()
    while len(merges) < n_merges:
        counts: dict[tuple[str, str], int] = {}
        for w, f in word_freq.items():
            syms = list(w)
            for a, b in merges:
                out = []
                for x in syms:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                syms = out
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + f
                )
        if not counts:
            break
        k = min(batch_k, n_merges - len(merges))
        window = 4 * k if k > 1 else 1
        rows = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:window]
        used: set[str] = set()
        accepted: list[tuple[str, str]] = []
        for (a, b), _c in rows:
            if len(accepted) == k:
                break
            if a in used or b in used or (a + b) in used or (a + b) in outputs:
                continue
            accepted.append((a, b))
            used.update((a, b, a + b))
        if not accepted:
            accepted = [rows[0][0]]
        for a, b in accepted:
            merges.append((a, b))
            outputs.add(a + b)
    return merges


def test_bpe_batch1_is_exact_sequential_64_merges(spark, docs):
    """batch_k=1 must reproduce the textbook sequential greedy trainer
    merge-for-merge at 64 merges (the round-4 differential test, extended
    from 5 to 64)."""
    from kgx import textops as T

    wf_df = (
        docs.select(F.explode(T.tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    wf = {r.word: r.freq for r in wf_df.collect()}
    got = T.bpe_train(wf_df, 64, batch_k=1)
    assert got == _py_bpe_train(wf, 64)


def test_bpe_batched_job_bound_and_twin_equality(spark, docs):
    """The round-5 scale fix (VERDICT r4 #3): batch_k=16 learns 64 merges
    in 6 recount jobs (vs 64 sequential — the reduction that makes a
    30k-merge production vocabulary thousands of jobs instead of 30k;
    exactly ceil(64/16)=4 is impossible under ANY disjoint-batch rule on
    a 26-letter alphabet, which admits at most 13 pairwise-disjoint
    first-pass merges), and the result equals the pure-Python twin of the
    same batched-greedy rule merge-for-merge."""
    from kgx import textops as T

    wf_df = (
        docs.select(F.explode(T.tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    wf = {r.word: r.freq for r in wf_df.collect()}
    stats: dict = {}
    got = T.bpe_train(wf_df, 64, batch_k=16, stats=stats)
    assert stats["recount_jobs"] <= 6, stats
    assert len(got) == 64
    assert got == _py_bpe_train_batched(wf, 64, 16)
    # the quality contract is COMPRESSION, not merge-list identity: the
    # batched list must tokenize the corpus within the documented drift
    # of the sequential list (measured +2.1% at k=16, +0.01% at k=8)
    def total_tokens(merges):
        tot = 0
        for w, f in wf.items():
            syms = list(w)
            for a, b in merges:
                out = []
                for x in syms:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                syms = out
            tot += len(syms) * f
        return tot

    seq_toks = total_tokens(_py_bpe_train(wf, 64))
    assert total_tokens(got) <= seq_toks * 1.025
    bat8 = _py_bpe_train_batched(wf, 64, 8)
    assert total_tokens(bat8) <= seq_toks * 1.001


def test_bpe_batched_adversarial_ties_and_overlaps(spark):
    """Tie-heavy overlapping vocabulary ('aaaa...' runs, equal counts,
    merged-output collisions): every batch_k must equal ITS pure-Python
    twin (batch_k=1's twin being the sequential trainer) — deterministic,
    engine-independent behavior even in the degenerate cases."""
    from kgx import textops as T

    rows = [
        ("aaaa", 10),  # self-overlapping pair (a,a)
        ("abab", 10),  # (a,b) ties (b,a) counts
        ("bab", 10),
        ("aab", 7),    # 'aa'+'b' collides with later (aa, b) output paths
        ("cdcd", 10),  # disjoint block with identical counts
        ("dcd", 10),
        ("ccd", 7),
    ]
    wf_df = spark.createDataFrame(rows, "word string, freq long")
    wf = dict(rows)
    assert T.bpe_train(wf_df, 12, batch_k=1) == _py_bpe_train(wf, 12)
    for k in (3, 16):
        got = T.bpe_train(wf_df, 12, batch_k=k)
        assert got == _py_bpe_train_batched(wf, 12, k), f"batch_k={k}"


# ------------------------------------------- registry freshness gate ----


def _latest_green_rounds():
    from scripts.registry_window import latest_green_rounds

    return latest_green_rounds()


def test_registry_bounded_staleness_invariant():
    """VERDICT r4 #1 made tested: with the driver checking the first 50
    registry rows per round, every row whose latest driver-green evidence
    is 3+ rounds old at the COMING check must sit inside that window —
    otherwise its evidence ages unboundedly. Computed from the
    CORRECTNESS_r*.json files, not from a hand-maintained comment."""
    import sys

    sys.path.insert(0, REPO)
    from kgx.queries import REGISTRY
    from scripts.registry_window import latest_green_rounds

    latest, current = latest_green_rounds()
    names = list(REGISTRY)
    window = set(names[:50])
    # rows the driver has ever checked and whose evidence would become
    # older than (current - 2) if skipped this round
    must_rotate = [
        n for n in names
        if n in latest and 0 < latest[n] < current - 2 and n not in window
    ]
    assert not must_rotate, (
        f"rows with driver evidence older than r{current - 2} are outside "
        f"the 50-row verification window: {must_rotate}"
    )
    # and nothing the driver ever marked red may sit unfixed: latest==0
    # means checked-but-never-green
    never_green = [n for n in names if latest.get(n) == 0]
    assert not never_green, never_green


def test_registry_window_script_runs():
    """The window-order script itself must agree the invariant holds at
    HEAD (exit 0) — it is the tool that generates next round's order."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "registry_window.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert "invariant holds" in out.stdout


def test_correctness_files_exist_and_parse():
    files = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    assert files, "driver correctness files missing"
    for f in files:
        json.load(open(f))


# --------------------------------------------------- ADVICE r4 fixes ----


def test_type_check_dangling_indicator_fails_range(spark):
    """ADVICE r4 #1: a fact whose indicator_uri is ABSENT from the KB
    indicator dim is a dangling reference — range_ok must be False (not
    NULL-coalesced to a pass) and is_valid False."""
    from kgx import linking, resources

    kb = resources.driver_kb()
    facts = spark.createDataFrame(
        [
            # dangling: no such indicator in the KB
            ("c1", 0, "ACME Corp", "Company", list(resources.DOMAIN_RULES)[0],
             "urn:kgx:does_not_exist"),
            # non-indicator fact: range stays NULL (vacuous)
            ("c1", 1, "ACME Corp", "Company", list(resources.DOMAIN_RULES)[0],
             None),
        ],
        "conv_id string, turn_idx int, entity_name string, "
        "entity_type string, pred string, indicator_uri string",
    )
    out = {r.turn_idx: r for r in
           linking.triple_type_check(spark, facts, kb).collect()}
    assert out[0].range_ok is False
    assert out[0].is_valid is False
    assert out[1].range_ok is None
    assert out[1].is_valid is True  # domain ok, no range constraint


def test_group_cap_excludes_null_groups(spark):
    """ADVICE r4 #2: NULL group values are excluded (engines disagree on
    NULL concatenation), so the operator is defined identically on Spark
    and the DuckDB oracle."""
    from kgx import curation

    df = spark.createDataFrame(
        [(i, "web" if i % 2 else None) for i in range(20)],
        "doc_id long, source string",
    )
    out = curation.group_cap(df, cap=3).collect()
    assert all(r.source is not None for r in out)
    assert len(out) == 3


# -------------------------------------------- MP4 sample-table index ----


def test_mp4_sample_table_roundtrip_chunk_layouts():
    """Builder->parser round trip across chunk layouts (1, 2, 3 samples
    per chunk, remainder chunks): frame order, timestamps under the mdhd
    timescale, sizes, and ABSOLUTE contiguous byte offsets all recovered
    from the raw bytes."""
    from kgx import multimodal as M

    sizes = [64, 72, 80, 88, 96, 104, 112]
    for cf in (1, 2, 3):
        b = M.make_mp4_with_samples(sizes, 40, timescale=1000, chunk_frames=cf)
        rows = M.parse_mp4_sample_table(b)
        assert [r[0] for r in rows] == list(range(7))
        assert [r[1] for r in rows] == [i * 40 for i in range(7)]
        assert [r[3] for r in rows] == sizes
        offs = [r[2] for r in rows]
        assert offs == [offs[0] + sum(sizes[:i]) for i in range(7)]
        # offsets point inside the file's mdat payload
        assert offs[-1] + sizes[-1] == len(b)
        # the mvhd tier still parses the same bytes
        dur, ts, brand = M.parse_mp4_header(b)
        assert (dur, ts, brand) == (7 * 40, 1000, "isom")


def test_mp4_sample_table_timescale_and_garbage():
    from kgx import multimodal as M

    # 90kHz timescale: ts_ms = ticks*1000//timescale (floor)
    b = M.make_mp4_with_samples([10] * 4, 3003, timescale=90000)
    assert [r[1] for r in M.parse_mp4_sample_table(b)] == [0, 33, 66, 100]
    assert M.parse_mp4_sample_table(None) == []
    assert M.parse_mp4_sample_table(b"junkjunkjunkjunk") == []
    # mvhd-only mp4 (no track) -> empty index, not an error
    assert M.parse_mp4_sample_table(M.make_mp4(5000)) == []


def test_video_frame_index_and_sampling_spark(spark):
    """Spark plumbing: frame index rows per video; sampling keeps the
    first frame per every_ms bucket."""
    from kgx import multimodal as M

    rows = [
        (0, "video", "video/mp4",
         M.make_mp4_with_samples([50, 60, 70, 80], 100, 1000, 2),
         None, None, None),
        (1, "video", "video/mp4", b"\x00" * 32, None, None, None),  # junk
        (2, "audio", "audio/wav", M.make_wav(8000, 800), None, None, None),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    idx = M.video_frame_index(media).orderBy("media_id", "frame_idx").collect()
    assert [(r.media_id, r.frame_idx, r.ts_ms, r.size) for r in idx] == [
        (0, 0, 0, 50), (0, 1, 100, 60), (0, 2, 200, 70), (0, 3, 300, 80)
    ]
    base = idx[0].byte_offset
    assert [r.byte_offset - base for r in idx] == [0, 50, 110, 180]
    # every_ms=200 buckets: ts 0,100 -> bucket 0 (keep idx0); 200,300 ->
    # bucket 1 (keep idx2)
    samp = M.sample_video_frames(media, every_ms=200, fake=False).collect()
    assert sorted((r.media_id, r.frame_idx) for r in samp) == [(0, 0), (0, 2)]


# ------------------------------- stream kill+resume (VERDICT r4 #8) ----


def _write_batches(src: str, frames, times_base: float | None = None):
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    base = times_base if times_base is not None else _time.time() - 3600
    for i, f in enumerate(frames):
        p = f"{src}/b{i}.parquet"
        if isinstance(f, pa.Table):
            pq.write_table(f, p)
        else:
            f.to_parquet(p, index=False)
        os.utime(p, (base + i * 60, base + i * 60))


def _drain_with_restart(spark, start_fn, ckpt: str, restart: bool):
    """Run a file-source stream to completion. restart=True: start without
    availableNow, stop as soon as the FIRST micro-batch commits (keys
    still buffered in the state store), then restart from the same
    checkpoint with availableNow and drain — the mid-corpus kill+resume
    VERDICT r4 #8 asks for."""
    import time as _time

    if restart:
        q = start_fn(available_now=False)
        commits = os.path.join(ckpt, "commits")
        for _ in range(300):
            if os.path.isdir(commits) and len(
                [f for f in os.listdir(commits) if not f.startswith(".")]
            ) >= 1:
                break
            _time.sleep(0.2)
        q.stop()
        q.awaitTermination(60)
    q2 = start_fn(available_now=True)
    q2.awaitTermination(180)


def _carryover_frames():
    import pandas as pd

    def t(conv, idx, ts, so):
        return {"conv_id": conv, "turn_idx": idx,
                "ts": pd.Timestamp(ts), "so_set": so}

    rows = [
        # conv A straddles batches, out of order; empty sets carry forward
        [t("A", 1, "2025-01-01 10:00:30", []),
         t("B", 0, "2025-01-01 10:05:00", ["vector"])],
        [t("A", 0, "2025-01-01 10:00:00", ["spark"]),
         t("A", 2, "2025-01-01 10:01:00", ["window"])],
        [t("B", 1, "2025-01-01 10:06:00", [])],
        # sentinels: advance the watermark past A/B timeouts, then fire them
        [t("__S1", 0, "2025-01-01 12:00:00", ["spark"])],
        [t("__S2", 0, "2025-01-01 14:00:00", ["spark"])],
    ]
    import pyarrow as pa

    # explicit arrow schema: an all-empty so_set batch would otherwise
    # infer list<int32>/list<null> and break the stream's string schema
    schema = pa.schema([
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("ts", pa.timestamp("us")),
        ("so_set", pa.list_(pa.string())),
    ])
    frames = []
    for batch in rows:
        pdf = pd.DataFrame(batch)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        frames.append(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False))
    return frames


def _run_carryover(spark, tmp_path, tag: str, restart: bool):
    from kgx.streaming import carryover_stream

    src = str(tmp_path / f"src_{tag}")
    out = str(tmp_path / f"out_{tag}")
    ckpt = str(tmp_path / f"ckpt_{tag}")
    _write_batches(src, _carryover_frames())

    def start(available_now: bool):
        stream = (
            spark.readStream.schema(
                "conv_id string, turn_idx int, ts timestamp, "
                "so_set array<string>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        rows = carryover_stream.carryover_conversations(stream, gap="10 minutes")
        w = (
            rows.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    _drain_with_restart(spark, start, ckpt, restart)
    df = spark.read.parquet(out).where(~F.col("conv_id").startswith("__"))
    return sorted(map(tuple, df.toPandas().astype(str).values.tolist()))


def test_stream_carryover_kill_resume_equals_single_run(spark, tmp_path):
    """Kill the carryover stream after its first micro-batch commits
    (buffered turn state only — nothing emitted yet), restart from the
    checkpoint, drain: the final table equals a never-killed run row for
    row. State-store durability for the coref-lite operator, matching the
    SCD2 restart pin (b0abd00)."""
    single = _run_carryover(spark, tmp_path, "single", restart=False)
    resumed = _run_carryover(spark, tmp_path, "resumed", restart=True)
    assert resumed == single
    # and the corpus is non-trivial: carried rows exist
    assert any(r[-1] == "True" for r in single), single


def _run_dedup(spark, tmp_path, tag: str, restart: bool):
    import pandas as pd

    from kgx.streaming import dedup_stream

    src = str(tmp_path / f"dsrc_{tag}")
    out = str(tmp_path / f"dout_{tag}")
    ckpt = str(tmp_path / f"dckpt_{tag}")

    def d(doc_id, text, ts):
        return {"doc_id": doc_id, "text": text, "ts": pd.Timestamp(ts)}

    rows = [
        [d(1, "alpha beta", "2025-01-01 10:00:00"),
         d(2, "gamma", "2025-01-01 10:01:00")],
        # duplicate within the watermark -> suppressed; new doc kept
        [d(3, "ALPHA   beta", "2025-01-01 10:05:00"),
         d(4, "delta", "2025-01-01 10:06:00")],
        # advance the watermark past the day-1 keys' eviction horizon; the
        # watermark a batch uses comes from PREVIOUS batches and eviction
        # runs at end-of-batch, so the re-post needs TWO batches after the
        # advancing event (same arrangement as the round-3 eviction test)
        [d(7, "watermark push", "2025-01-01 12:00:00")],
        [d(8, "second push", "2025-01-01 12:10:00")],
        # re-post past the 10-minute delay -> re-emitted (re-crawl rule)
        [d(5, "alpha beta", "2025-01-02 09:00:00")],
        [d(9, "sentinel", "2025-01-03 00:00:00")],
    ]
    frames = []
    for batch in rows:
        pdf = pd.DataFrame(batch)
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        frames.append(pdf)
    _write_batches(src, frames)

    def start(available_now: bool):
        stream = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        kept = dedup_stream.dedup_stream_watermarked(stream, delay="10 minutes")
        w = (
            kept.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    _drain_with_restart(spark, start, ckpt, restart)
    df = spark.read.parquet(out).where(~F.col("doc_id").isin(7, 8, 9)).drop("_ck")
    return sorted(map(tuple, df.toPandas().astype(str).values.tolist()))


def test_stream_dedup_kill_resume_equals_single_run(spark, tmp_path):
    """Kill the watermarked-dedup stream after its first micro-batch
    commits (dedup keys live in the state store), restart from the
    checkpoint, drain: final table equals a never-killed run — the seen-set
    survives restart, so the duplicate in batch 2 stays suppressed and the
    past-watermark re-post still re-emits."""
    single = _run_dedup(spark, tmp_path, "single", restart=False)
    resumed = _run_dedup(spark, tmp_path, "resumed", restart=True)
    assert resumed == single
    kept_ids = {r[0] for r in single}
    assert kept_ids == {"1", "2", "4", "5"}, single


# ------------------------------------ negative sampling / mention ctx ----


def test_negative_samples_properties(spark):
    """No negative row may be a true edge; every positive appears exactly
    once with label 1; negatives are <= k per positive and deterministic
    across two runs (hash-picked, no RNG state)."""
    from kgx import graph

    pos = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (3, 30)], ["custkey", "suppkey"]
    )
    ents = spark.createDataFrame([(s,) for s in (10, 20, 30, 40)], ["suppkey"])
    with cache.scope():
        out = graph.negative_samples(pos, ents, "custkey", "suppkey", k=3)
        rows = {(r.custkey, r.suppkey, r.label, r.neg_idx) for r in out.collect()}
        pos_rows = {(c, s) for c, s, l, i in rows if l == 1}
        assert pos_rows == {(1, 10), (1, 20), (2, 10), (3, 30)}
        assert all(i == 0 for c, s, l, i in rows if l == 1)
        neg_rows = {(c, s) for c, s, l, i in rows if l == 0}
        assert not (neg_rows & pos_rows), "a negative sample is a true edge"
        # per-positive bound: k=3 corruptions max (collisions/anti-join shrink)
        from collections import Counter

        per_pos = Counter((c,) for c, s, l, i in rows if l == 0)
        assert all(v <= 3 * 2 for v in per_pos.values())  # cust 1 has 2 positives
        rows2 = {(r.custkey, r.suppkey, r.label, r.neg_idx)
                 for r in graph.negative_samples(
                     pos, ents, "custkey", "suppkey", k=3).collect()}
        assert rows == rows2


def test_mention_contexts_window_clipping(spark):
    """Context windows clip at text boundaries: a mention at offset 0 has
    empty left_ctx; a trailing mention has a short right_ctx; interior
    mentions carry exactly `window` chars each side."""
    from kgx import mentions, resources

    kb = resources.driver_kb()
    text = "spark " + "x" * 60 + " value " + "y" * 60 + " merge"
    tr = spark.createDataFrame(
        [("c1", 0, "user", text)], ["conv_id", "turn_idx", "role", "text"]
    )
    m = mentions.detect_mentions(tr, kb)
    got = {
        r.surface: r for r in mentions.mention_contexts(m, window=24).collect()
    }
    assert got["spark"].left_ctx == ""
    assert got["spark"].right_ctx == text[5 : 5 + 24]
    v = got["value"]
    assert len(v.left_ctx) == 24 and len(v.right_ctx) == 24
    assert text[v.begin_off : v.end_off] == "value"
    assert v.left_ctx == text[v.begin_off - 24 : v.begin_off]
    assert v.right_ctx == text[v.end_off : v.end_off + 24]
    mg = got["merge"]
    assert mg.right_ctx == "" and mg.end_off == len(text)


def test_random_walks_are_valid_paths(spark):
    """Every consecutive (step, step+1) pair in a walk must be a real
    edge; every node gets exactly walks_per_node walks of walk_len
    steps; two runs produce the identical corpus (hash-picked hops)."""
    from kgx import graph

    pairs = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (2, 30), (3, 20)], ["c", "s"]
    )
    edges = graph.undirected_edges(pairs, "c", "s")
    with cache.scope():
        out = graph.random_walks(edges, walk_len=4, walks_per_node=2)
        rows = [(r.start, r.walk_id, r.step, r.node) for r in out.collect()]
        edge_set = {(r.src, r.dst) for r in edges.distinct().collect()}
        n_nodes = len({s for s, _ in edge_set})
        assert len(rows) == n_nodes * 2 * 4
        walks = {}
        for start, wid, step, node in rows:
            walks.setdefault((start, wid), {})[step] = node
        for (start, wid), path in walks.items():
            assert sorted(path) == [0, 1, 2, 3]
            assert path[0] == start
            for s in range(3):
                assert (path[s], path[s + 1]) in edge_set, (start, wid, path)
        rows2 = [(r.start, r.walk_id, r.step, r.node)
                 for r in graph.random_walks(edges, walk_len=4, walks_per_node=2).collect()]
        assert sorted(rows) == sorted(rows2)


def test_mlm_mask_action_split_and_inputs(spark):
    """Masked rows carry [MASK], keep rows carry the original, random
    rows carry a token from the corpus vocabulary; selection rate is
    ~15% of tokens; the corpus is deterministic across runs."""
    from kgx import textops

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 37 + j) % 97}" for j in range(50)))
         for i in range(40)],
        ["doc_id", "text"],
    )
    out = textops.mlm_mask(docs).collect()
    vocab = {f"w{k}" for k in range(97)}
    n_total = 40 * 50
    assert 0.10 * n_total < len(out) < 0.20 * n_total
    acts = {"mask": 0, "random": 0, "keep": 0}
    for r in out:
        acts[r.action] += 1
        if r.action == "mask":
            assert r.model_input == "[MASK]"
        elif r.action == "keep":
            assert r.model_input == r.original
        else:
            assert r.model_input in vocab
    assert acts["mask"] > acts["random"] > 0 and acts["keep"] > 0
    out2 = textops.mlm_mask(docs).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_skipgram_pairs_window_and_symmetry(spark):
    """Pairs are exactly the |Δstep|<=window, Δ≠0 co-occurrences; the
    relation is symmetric in count total (every (a,b) has a (b,a) mate
    from the mirrored Δ); counts match a brute-force recount."""
    from kgx import graph

    walks = spark.createDataFrame(
        [("n1", 1, 0, "a"), ("n1", 1, 1, "b"), ("n1", 1, 2, "c"),
         ("n1", 1, 3, "d"), ("n2", 1, 0, "b"), ("n2", 1, 1, "a")],
        ["start", "walk_id", "step", "node"],
    )
    got = {(r.center, r.context): r.cnt
           for r in graph.skipgram_pairs(walks, window=2).collect()}
    expect = {}
    corpus = [[("a", 0), ("b", 1), ("c", 2), ("d", 3)], [("b", 0), ("a", 1)]]
    for walk in corpus:
        for u, su in walk:
            for v, sv in walk:
                if u == v and su == sv:
                    continue
                if abs(su - sv) <= 2 and su != sv:
                    expect[(u, v)] = expect.get((u, v), 0) + 1
    assert got == expect
    assert sum(got.values()) % 2 == 0


def test_sft_pairs_strict_alternation(spark):
    """Only user→assistant adjacencies become pairs: trailing user turns,
    consecutive user turns, and assistant-led turns are dropped."""
    from kgx import assemble

    tr = spark.createDataFrame(
        [("c1", 0, "user", "q1"), ("c1", 1, "assistant", "a1"),
         ("c1", 2, "user", "q2"), ("c1", 3, "user", "q3"),
         ("c1", 4, "assistant", "a3"), ("c1", 5, "user", "dangling"),
         ("c2", 0, "assistant", "unprompted"), ("c2", 1, "user", "q")],
        ["conv_id", "turn_idx", "role", "text"],
    )
    got = {(r.conv_id, r.turn_idx): (r.prompt, r.completion)
           for r in assemble.sft_pairs(tr).collect()}
    assert got == {
        ("c1", 0): ("q1", "a1"),
        ("c1", 3): ("q3", "a3"),
    }

# ------------------------------------------------ DPO preference pairs ----


def test_dpo_pairs_margin_and_tiebreak(spark):
    """dpo_pairs picks max/min under (score, md5(completion)), drops
    groups under the margin or with a single candidate, and resolves tied
    scores deterministically by the md5 tie-break."""
    import hashlib

    from kgx import curation

    rows = [
        # group g1: clear winner/loser, gap 9 >= margin
        ("g1", "p1", "best answer", 10.0),
        ("g1", "p1", "mid answer", 5.0),
        ("g1", "p1", "worst answer", 1.0),
        # group g2: gap 1 < margin -> dropped
        ("g2", "p2", "a", 5.0),
        ("g2", "p2", "b", 4.0),
        # group g3: single candidate -> dropped
        ("g3", "p3", "only", 9.0),
        # group g4: all scores tied at the extremes -> md5 tie-break,
        # gap 5 >= margin
        ("g4", "p4", "tie-x", 7.0),
        ("g4", "p4", "tie-y", 7.0),
        ("g4", "p4", "low", 2.0),
    ]
    df = spark.createDataFrame(
        rows, "prompt_id string, prompt string, completion string, score double"
    )
    out = {
        r.prompt_id: r
        for r in curation.dpo_pairs(df, margin=3.0).collect()
    }
    assert set(out) == {"g1", "g4"}
    assert out["g1"].chosen == "best answer"
    assert out["g1"].rejected == "worst answer"
    assert (out["g1"].score_chosen, out["g1"].score_rejected) == (10.0, 1.0)
    # tie at score 7.0: chosen = greater md5 hex digest, exactly as the
    # DuckDB oracle's ORDER BY score DESC, tie DESC
    exp = max("tie-x", "tie-y", key=lambda s: hashlib.md5(s.encode()).hexdigest())
    assert out["g4"].chosen == exp
    assert out["g4"].rejected == "low"


def test_dpo_pairs_plan_is_single_partial_agg(spark):
    """The plan must be ONE hash aggregate pair (partial + final) over the
    group key with NO collect_list / sort / window — the O(1)-state-per-
    group contract that survives a viral prompt with millions of
    candidates."""
    from kgx import curation

    df = spark.createDataFrame(
        [("g", "p", f"c{i}", float(i)) for i in range(10)],
        "prompt_id string, prompt string, completion string, score double",
    )
    plan = (
        curation.dpo_pairs(df, margin=1.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "collect_list" not in plan
    assert "Window" not in plan
    # exactly one exchange: the group-key shuffle between partial and
    # final aggregation
    assert plan.count("Exchange") == 1


# ------------------------------------------- neighbor-Jaccard similarity ----


def test_jaccard_similarity_hub_cap_and_exact_scores(spark):
    """graph.jaccard_similarity: exact scores on a small graph, and the
    max_middle_degree cap excludes hub-mediated wedges while keeping
    denominators exact (documented lower bound for hub-sharing pairs)."""
    from kgx import graph

    # K: hub middle connected to a,b,c ; m: degree-2 middle for (a,b)
    pairs = [("K", x) for x in ("a", "b", "c")] + [("m", "a"), ("m", "b")]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    sym = edges.unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    with cache.scope():
        out = graph.jaccard_similarity(sym, max_middle_degree=2, min_common=1)
        rows = {(r.a, r.b): r for r in out.collect()}
    # K (deg 3) is over the cap, so its wedges (a,b),(a,c),(b,c) vanish;
    # surviving middles: m -> (a,b), and a/b (deg 2 each) -> (K,m) twice
    assert set(rows) == {("a", "b"), ("K", "m")}
    r = rows[("a", "b")]
    # capped lower bound: common counted through m only (1), degrees
    # exact (2,2) -> jaccard = 1/(2+2-1)
    assert (r.n_common, r.deg_a, r.deg_b) == (1, 2, 2)
    assert r.jaccard == 1.0 / 3.0
    k = rows[("K", "m")]
    assert (k.n_common, k.deg_a, k.deg_b) == (2, 3, 2)
    assert k.jaccard == 2.0 / 3.0

    # without the cap (a,b) scores the true 2/(2+2-2) = 1.0 and K's
    # wedges reappear
    with cache.scope():
        out2 = graph.jaccard_similarity(sym, max_middle_degree=10, min_common=1)
        rows2 = {(r.a, r.b): r.jaccard for r in out2.collect()}
    assert rows2[("a", "b")] == 1.0
    assert rows2[("a", "c")] == 0.5 and rows2[("b", "c")] == 0.5
    assert set(rows2) == {("a", "b"), ("a", "c"), ("b", "c"), ("K", "m")}
