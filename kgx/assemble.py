"""Stage 1 — admission + window-ordered per-conversation turn assembly (W1).

Reference behavior reproduced:
  * size-based admission control: drop oversize documents
    (CompletePipelineReceiver.java:74-84,131-136; default 1,000,000 chars);
  * document dedup by stable id (JSI_WP3_ID lookup,
    DatabaseFacade.java:517-573) → dropDuplicates on (conv_id, turn_idx);
  * stable sentence order = annotation offsets → explicit (conv_id, turn_idx)
    ordering. Invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering — assembly never reorders or mutates text.

Scale notes: the repartition keys every downstream per-conversation
operation; hash(conv_id) co-locates a conversation so all per-turn and
per-conv stages after this are shuffle-free or reuse this exchange. On a
real cluster `num_partitions` is 2-3x total executor cores; AQE coalesces.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

DEFAULT_MAX_TEXT_LEN = 1_000_000  # CompletePipelineReceiver.java default


def admit_turns(
    transcripts: DataFrame, max_text_len: int = DEFAULT_MAX_TEXT_LEN
) -> DataFrame:
    """Map-only admission: size filter + ts_day + txt_h (xxhash64 of text).

    The 100-TB hot path: NO shuffle here — full text never moves. Duplicate
    (conv_id, turn_idx) rows survive admission and are resolved downstream
    on *slim* rows (the per-turn mention spans, the per-turn doc_meta
    counts) by resolve_duplicates, so conflicting duplicates resolve the
    same way in every output. This replaces assemble_turns'
    repartition+dropDuplicates, which shuffles the full text column (~the
    whole corpus) just to dedup (J6, DatabaseFacade.java:517-573)."""
    return (
        transcripts.filter(
            F.col("text").isNotNull() & (F.length("text") <= F.lit(max_text_len))
        )
        .withColumn("ts_day", F.to_date("ts"))
        .withColumn("txt_h", F.xxhash64("text"))
    )


def resolve_duplicates(turns: DataFrame) -> DataFrame:
    """The duplicate-turn rule: one row per (conv_id, turn_idx), the one
    with the smallest txt_h — deterministic and independent of row order
    and parallelism. Drops txt_h, so a second call is a no-op; without
    txt_h (assemble_turns output, already unique) it does nothing.

    Project to slim columns first: the window shuffles every column it
    is given."""
    if "txt_h" not in turns.columns:
        return turns
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("txt_h")
    return (
        turns.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "txt_h")
    )


def assemble_turns(
    transcripts: DataFrame,
    max_text_len: int = DEFAULT_MAX_TEXT_LEN,
    num_partitions: int | None = None,
) -> DataFrame:
    """Admission-filter, dedup, and partition the turn table by conv_id."""
    df = transcripts.filter(
        F.col("text").isNotNull() & (F.length("text") <= F.lit(max_text_len))
    )
    # repartition BEFORE dedup: hash(conv_id) co-locates (conv_id, turn_idx)
    # keys (subset rule), so the dropDuplicates reuses this exchange instead
    # of adding a second full-text shuffle
    if num_partitions:
        df = df.repartition(num_partitions, "conv_id")
    else:
        df = df.repartition("conv_id")
    return df.dropDuplicates(["conv_id", "turn_idx"]).withColumn(
        "ts_day", F.to_date("ts")
    )


def conversation_docs(turns: DataFrame) -> DataFrame:
    """Assemble whole-conversation documents with per-turn char offsets
    (W3): offset_begin = cumulative length of prior turns + separators.

    Uses sort_array(collect_list(struct(turn_idx, ...))) — NEVER shuffle
    order — so the document text is deterministic (SURVEY.md §2.5/W1).
    """
    w = F.array_sort(
        F.collect_list(
            F.struct(F.col("turn_idx").cast("int").alias("turn_idx"), "text")
        )
    )
    return (
        turns.groupBy("conv_id")
        .agg(
            w.alias("ordered"),
            F.min("ts").alias("conv_ts"),
            F.count(F.lit(1)).alias("n_turns"),
        )
        .withColumn(
            "doc_text", F.array_join(F.transform("ordered", lambda s: s["text"]), "\n")
        )
        .withColumn(
            "turn_offsets",
            F.expr(
                """
                aggregate(
                  ordered,
                  struct(cast(array() as array<struct<turn_idx:int, begin:int, end:int>>) as acc,
                         0 as pos),
                  (s, t) -> struct(
                      array_append(s.acc, struct(t.turn_idx as turn_idx,
                                                 s.pos as begin,
                                                 s.pos + length(t.text) as end)) as acc,
                      s.pos + length(t.text) + 1 as pos),
                  s -> s.acc)
                """
            ),
        )
        .drop("ordered")
    )


def sft_pairs(transcripts: DataFrame) -> DataFrame:
    """Instruction-tuning pair extraction: each user turn paired with the
    immediately following assistant turn of the same conversation —
    (conv_id, turn_idx, prompt, completion) rows, the supervised
    fine-tuning example shape a chat corpus is distilled into (the same
    role/turn contract as SURVEY.md §1.1's transcript table; the
    reference processes documents one conversation at a time, GATE
    corpus iteration, and this is the training-data surface downstream).

    One window function partitioned by conv_id — the same shuffle key as
    every other per-conversation stage, so AQE reuses the exchange when
    composed with them. Turns are per-conversation bounded (admission
    caps upstream), so the sort inside each partition group is bounded;
    no joins, no driver state. Pairs where the next turn is missing or
    not an assistant turn (tool call, consecutive user turns) are
    dropped — the standard strict-alternation filter.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        transcripts.select(
            "conv_id",
            "turn_idx",
            "role",
            F.col("text").alias("prompt"),
            F.lead("role").over(w).alias("next_role"),
            F.lead("text").over(w).alias("completion"),
        )
        .where((F.col("role") == "user") & (F.col("next_role") == "assistant"))
        .select("conv_id", "turn_idx", "prompt", "completion")
    )


def tool_transitions(transcripts: DataFrame) -> DataFrame:
    """Tool-call Markov transition matrix over agent transcripts: for
    every conversation ordered by turn_idx, count (tool -> next tool)
    bigrams corpus-wide and derive the empirical transition probability —
    the agent-behavior analytics table (which tool follows which) the
    reference's per-document pipeline has no equivalent for because it
    never sees turn order (CompletePipelineWorker processes one document
    per ZeroMQ message); turn order is exactly what the Spark fold adds.

    One lead() window on the per-conversation shuffle key shared with
    sft_pairs/assemble_turns (AQE reuses the exchange when composed),
    one groupBy on the (tool, next_tool) bigram with map-side partials,
    and one window-sum per source tool for the denominator. Counts are
    exact BIGINTs; the probability is a single IEEE division, so the
    table is engine-exact. Turns with NULL tool (plain text turns) are
    excluded from both ends of the bigram — the matrix is over tool
    invocations only. Returns (tool, next_tool, n, row_total, p).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    bigrams = (
        transcripts.select(
            "conv_id",
            "turn_idx",
            "tool",
            F.lead("tool").over(w).alias("next_tool"),
        )
        .where(F.col("tool").isNotNull() & F.col("next_tool").isNotNull())
        .groupBy("tool", "next_tool")
        .agg(F.count("*").alias("n"))
    )
    per_tool = Window.partitionBy("tool")
    return bigrams.select(
        "tool",
        "next_tool",
        "n",
        F.sum("n").over(per_tool).alias("row_total"),
        (F.col("n").cast("double") / F.sum("n").over(per_tool)).alias("p"),
    )


def nsp_pairs(transcripts: DataFrame) -> DataFrame:
    """Next-sentence-prediction examples (BERT NSP; Devlin et al. 2018)
    over transcript turns: each turn with a successor yields a POSITIVE
    pair (its text, the next turn's text, label 1) and one NEGATIVE pair
    whose second sentence is a hash-picked turn from the global corpus
    (label 0), dropped when the pick lands in the same conversation —
    the standard 50/50 NSP corpus shape, fully deterministic so a SQL
    oracle reproduces every pick.

    The negative pick is rank arithmetic, not RNG: a global turn dim
    ranked by row_number() over (conv_id, turn_idx) order, and pick =
    md5_60bit(conv:turn:'nsp') mod n_turns — the same cross-engine
    scheme as graph.negative_samples. Costs: one per-conversation lead()
    window (shared shuffle key with sft_pairs), one global window for the
    rank dim (single exchange over slim (rank, conv, text) rows — at
    10^12 turns this dim would be built per-shard with a zipWithIndex-
    style two-pass rank instead; the contract is the same), and one
    shuffle join on the picked rank. Returns
    (conv_id, turn_idx, sent_a, sent_b, label).
    """
    from kgx.dedup import md5_hash60

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    base = transcripts.select("conv_id", "turn_idx", "text")
    anchors = base.select(
        "conv_id",
        "turn_idx",
        F.col("text").alias("sent_a"),
        F.lead("text").over(w).alias("sent_b"),
    ).where(F.col("sent_b").isNotNull())
    rank_w = Window.orderBy("conv_id", "turn_idx")
    dim = base.select(
        (F.row_number().over(rank_w) - 1).alias("rnk"),
        F.col("conv_id").alias("cand_conv"),
        F.col("text").alias("cand_text"),
    )
    n_turns = base.agg(F.count("*").alias("n_turns"))
    pick = (
        md5_hash60(
            F.concat_ws(
                ":",
                F.col("conv_id"),
                F.col("turn_idx").cast("string"),
                F.lit("nsp"),
            )
        )
        % F.col("n_turns")
    ).alias("rnk")
    negatives = (
        anchors.crossJoin(F.broadcast(n_turns))
        .select("conv_id", "turn_idx", "sent_a", pick)
        .join(dim, "rnk")
        .where(F.col("cand_conv") != F.col("conv_id"))
        .select(
            "conv_id",
            "turn_idx",
            "sent_a",
            F.col("cand_text").alias("sent_b"),
            F.lit(0).alias("label"),
        )
    )
    positives = anchors.select(
        "conv_id", "turn_idx", "sent_a", "sent_b", F.lit(1).alias("label")
    )
    return positives.unionByName(negatives)
