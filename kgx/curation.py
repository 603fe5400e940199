"""Training-data curation operators for LLM-scale corpora.

The "last mile" of a pretraining pipeline after dedup (kgx.dedup) and
quality scoring (kgx.textops): decide what may enter the training mix and
shape it into trainable units.

Operators:
  * contamination_flags — benchmark decontamination: flag corpus docs whose
    n-gram shingles overlap a held-out benchmark set. The benchmark side is
    tiny relative to a 100 TB corpus, so its distinct shingle hashes are
    BROADCAST and the corpus side is a map-side semi-probe — the corpus
    text is scanned once and never shuffled.
  * pack_sequences — deterministic greedy first-fit-in-order packing of
    docs into fixed-token-budget bins (sequence packing for training).
    Inherently sequential PER GROUP, parallel ACROSS groups: implemented
    with applyInPandas over the grouping key (Arrow-batched, bounded state
    = one group), the sanctioned Spark shape for per-key running state.
  * pii_redact — JVM-regex redaction of emails / IPv4s / long digit runs,
    with per-doc redaction counts and a digest of the redacted text.
    Map-only, whole-stage-codegen; regexes restricted to the syntax subset
    Java regex and RE2 (DuckDB) share, so the oracle reproduces it exactly.
  * group_cap — per-group (e.g. per-domain) document cap by deterministic
    hash rank: a uniform without-replacement sample of each group, the
    domain-share bound of web-corpus curation.
  * stratified_sample — deterministic hash-based per-stratum sampling
    (rate per language). Map-only; reproducible across engines via the
    md5-derived bucket (kgx.dedup.md5_hash60), so resampling a grown
    corpus keeps previously-kept docs stable (additive-corpus property).
  * chunk_documents — context-window chunking: fixed-size token chunks
    with overlap, map-only, pure-integer boundary arithmetic.
  * temperature_sample — alpha=0.5 mixture flattening with rates DERIVED
    from stratum sizes (sqrt keeps it bit-exact cross-engine).
  * dpo_pairs — preference-pair construction (DPO / reward-model training
    data): per prompt group, (chosen, rejected) = the best- and
    worst-scoring candidate completions under a deterministic total order,
    kept only when the score gap clears a margin. One shuffle on the
    group key; max_by/min_by keep O(1) partial state per group (map-side
    combine), so a prompt with millions of candidate completions never
    materializes a list.

Reference parity note: the reference engine has no curation stage (it is a
per-document extraction service); these operators are the large-scale
training-data additions the build brief asks for, grouped apart from the
SURVEY §2 parity ops on purpose.
"""

from __future__ import annotations

from typing import Iterable, Mapping

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from kgx import cache
from kgx.dedup import md5_hash60, shingles_from_tokens
from kgx.textops import tokens


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    threshold: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag corpus docs contaminated by a benchmark set.

    A doc is contaminated when >= `threshold` of its distinct n-gram
    shingles appear anywhere in the benchmark corpus (the standard
    n-gram-overlap decontamination rule used for pretraining corpora).

    Scale shape: the benchmark's distinct shingle-hash set is collected
    into a BROADCAST hash join build side (benchmarks are ~10^5 items even
    when the corpus is 10^10 docs), so the corpus side stays map-only:
    tokenize -> explode distinct shingles -> broadcast-probe -> per-doc
    count. No corpus-text shuffle; the only exchange carries
    (doc_id, n_shingles, n_hit) longs.

    Returns (id_col, n_shingles, n_overlap, overlap_ratio, contaminated).
    """
    def shingle_hashes(df: DataFrame, keep_id: bool) -> DataFrame:
        toks = df.select(
            *([F.col(id_col)] if keep_id else []),
            tokens(F.lower(F.col(text_col))).alias("toks"),
        )
        cols = [F.col(id_col)] if keep_id else []
        return toks.select(
            *cols, F.explode(shingles_from_tokens(F.col("toks"), n)).alias("sh")
        ).select(*cols, md5_hash60(F.col("sh")).alias("sh_h"))

    bench_sh = (
        shingle_hashes(benchmark, keep_id=False)
        .distinct()
        .withColumn("bench_hit", F.lit(1))
    )
    doc_sh = shingle_hashes(docs, keep_id=True)
    hits = doc_sh.join(F.broadcast(bench_sh), "sh_h", "left").withColumn(
        "hit", F.coalesce(F.col("bench_hit"), F.lit(0))
    )
    agg = hits.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"),
        F.sum("hit").cast("bigint").alias("n_overlap"),
    )
    ratio = F.col("n_overlap").cast("double") / F.col("n_shingles").cast("double")
    return agg.select(
        id_col,
        "n_shingles",
        "n_overlap",
        ratio.alias("overlap_ratio"),
        (ratio >= F.lit(threshold)).alias("contaminated"),
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy first-fit-in-order sequence packing into fixed token budgets.

    Docs are processed in `id_col` order within each `group_col` partition;
    a doc that would overflow the current bin starts a new one (a doc
    larger than the whole budget gets a bin to itself). This is the
    standard streaming packing rule for building fixed-length training
    sequences without splitting documents.

    Scale shape: the running (bin_id, fill) state is inherently sequential
    per group, so the token counts (NOT the text) are computed JVM-side
    first, then a tiny (group, id, n_tokens) frame goes through
    applyInPandas keyed by the group — parallel across groups, O(rows of
    one group) state per task. At 10^12 tokens the group key is whatever
    bounds a packing domain (source shard / date); text never shuffles.

    Returns (group_col, id_col, n_tokens, bin_id).
    """
    toks = docs.select(
        F.col(group_col),
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )

    # derive the group/id field types from the input (an int doc id or a
    # date group would fail a hardcoded "string ... long" schema at runtime)
    in_types = {f.name: f.dataType.simpleString() for f in toks.schema.fields}
    schema = (
        f"{group_col} {in_types[group_col]}, {id_col} {in_types[id_col]}, "
        "n_tokens long, bin_id long"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins = []
        bin_id, fill = 0, 0
        for t in pdf["n_tokens"]:
            if fill > 0 and fill + t > budget:
                bin_id += 1
                fill = t
            else:
                fill += t
            bins.append(bin_id)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf[[group_col, id_col, "n_tokens", "bin_id"]]

    return toks.groupBy(group_col).applyInPandas(pack, schema=schema)


# Redaction patterns restricted to the Java-regex ∩ RE2 syntax subset so the
# DuckDB oracle replays them byte-identically. Order matters (email before
# digit-run so the digits inside an address are consumed first).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("digits", r"\b[0-9]{9,}\b", "<NUM>"),
)


def pii_redact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact PII-shaped spans and count them per doc.

    Emails, IPv4 addresses and long digit runs (card/ID-shaped) are
    replaced by typed placeholder tokens, applied in a fixed order.
    Map-only whole-stage-codegen regexps — no Python, no shuffle; at
    100 TB this is a pure scan whose cost is the regex engine itself.

    Returns (id_col, n_email, n_ipv4, n_digits, redacted_md5) — the digest
    stands in for the (potentially huge) redacted text in result sets;
    callers that want the text use the same expression via `redact_col`.

    Count semantics (deliberate, oracle-matched): each n_* counts matches
    of that pattern in the ORIGINAL text, independently — a span consumed
    by an earlier replacement (digits inside an email) is still counted,
    so the counts measure pattern incidence, not the number of distinct
    replacement operations performed.
    """
    c = F.col(text_col)
    counts = [
        F.regexp_count(c, F.lit(pat)).cast("bigint").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    red = c
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return docs.select(F.col(id_col), *counts, F.md5(red).alias("redacted_md5"))


def _stratum_bucket(stratum_col: str, id_col: str, n_buckets: int) -> "F.Column":
    """Deterministic per-doc bucket in [0, n_buckets): md5 of
    "<stratum>:<id>" — the ONE bucket formula both samplers (and their
    SQL oracles) share, so the cross-engine contract cannot fork."""
    return F.pmod(
        md5_hash60(
            F.concat_ws(":", F.col(stratum_col), F.col(id_col).cast("string"))
        ),
        F.lit(n_buckets),
    )


def stratified_sample(
    docs: DataFrame,
    rates: Mapping[str, float],
    default_rate: float = 0.0,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum hash sampling (training-mix construction).

    Each doc gets a stable bucket in [0, 10000) from
    md5(stratum || ':' || id); it is kept iff bucket < rate(stratum)*10000.
    Properties that matter at corpus scale: map-only (no shuffle, no RNG
    state), reproducible run-to-run, and ADDITIVE — growing the corpus or
    raising a stratum's rate never drops a previously-kept doc.

    Returns the kept rows as (id_col, stratum_col, bucket).
    """
    bucket = _stratum_bucket(stratum_col, id_col, 10000)
    # round(), not int(): IEEE representation error makes e.g.
    # 0.57 * 10000 == 5699.999..., and truncation would silently lower the
    # realized rate below the documented `bucket < rate*10000` rule
    thresh = F.lit(round(default_rate * 10000))
    # fold the rate map into a CASE ladder (constant-folded by Catalyst)
    expr = None
    for stratum, rate in sorted(rates.items()):
        cond = F.col(stratum_col) == stratum
        val = F.lit(round(rate * 10000))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    thresh = expr.otherwise(thresh) if expr is not None else thresh
    return (
        docs.select(F.col(id_col), F.col(stratum_col), bucket.alias("bucket"))
        .where(F.col("bucket") < thresh)
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Context-window chunking: split each document's token stream into
    fixed-size chunks with overlap — the standard prep step for training
    or embedding models with a bounded context window (stride =
    chunk_tokens - overlap; the tail chunk is kept even if short, the
    usual keep-the-remainder policy).

    Returns (id_col, chunk_idx, start_tok, n_chunk_tokens, chunk_text),
    one row per chunk, chunk_idx 0-based in document order.

    Cross-engine determinism: the chunk count is PURE INTEGER arithmetic
    (((max(n - chunk, 0) + stride - 1) div stride) + 1 — no float ceil,
    whose rounding a SQL engine need not reproduce), and chunk boundaries
    are array slices of the one token array.

    Scale shape: map-only — tokenize, compute chunk starts in-row, slice
    and posexplode. Zero shuffle at any corpus size; output rows carry
    only their own chunk text. Fan-out is n_tokens/stride per doc, the
    contract every downstream trainer expects."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toked = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    n = F.size(F.col("toks"))
    n_chunks = (
        F.expr(
            f"(greatest(size(toks) - {chunk_tokens}, 0) + {stride - 1}) div {stride}"
        )
        + F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            (i * stride).alias("start_tok"),
            F.slice(F.col("toks"), i * stride + 1, chunk_tokens).alias("ct"),
        ),
    )
    return (
        toked.select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "c"))
        .select(
            id_col,
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.col("c.start_tok").cast("bigint").alias("start_tok"),
            F.size("c.ct").cast("bigint").alias("n_chunk_tokens"),
            F.array_join("c.ct", " ").alias("chunk_text"),
        )
    )


def group_cap(
    docs: DataFrame,
    cap: int,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group document cap by deterministic hash rank — the per-domain
    cap of web-corpus curation (CCNet / Gopher-style pipelines bound any
    single domain's share of the training mix; public method): within each
    group, keep the `cap` docs with the smallest md5-derived rank. Hash
    rank (not id order) makes the kept set a uniform without-replacement
    sample of the group, stable run-to-run, and independent of how ids
    were assigned; the (hash, id) compound key is a total order, so the
    result is unique even under hash collisions.

    Returns the kept rows as (id_col, group_col, hash_rank, rank).

    NULL groups are EXCLUDED (same contract as temperature_sample's NULL
    strata): a NULL group value has no meaningful "domain" to cap, and
    the engines disagree on NULL concatenation (Spark concat_ws skips
    NULLs, ANSI `||` propagates them), so defining the operator only on
    non-NULL groups keeps its behavior identical everywhere.

    Scale shape: one window shuffle keyed by the group over SLIM
    (id, group, hash) rows — text never moves. Hot groups (the reason the
    cap exists) concentrate rows on one reducer; at 10^12 docs cap the
    blowup with a two-phase variant: a per-partition rank prefilter keeps
    at most `cap` candidates per partition before the global window —
    sound because a row outside its partition's top-cap cannot be in the
    group's global top-cap (monotone under merging)."""
    h = md5_hash60(
        F.concat_ws(":", F.col(group_col), F.col(id_col).cast("string"))
    )
    slim = (
        docs.where(F.col(group_col).isNotNull())
        .select(F.col(id_col), F.col(group_col), h.alias("hash_rank"))
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("hash_rank").asc(), F.col(id_col).asc()
    )
    return (
        slim.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= cap)
    )


def temperature_sample(
    docs: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-flattened mixture sampling at alpha = 0.5 — the
    multilingual-corpus rebalancing of mBERT/XLM-R-style pipelines
    (sample shares proportional to share^alpha; public method), realized
    as a pure DOWN-sampling filter normalized to the smallest stratum:

        keep_prob_s = sqrt(n_min / n_s)

    so the smallest stratum keeps everything and a stratum's expected
    kept count is sqrt(n_min * n_s) — the geometric flattening toward
    uniform that alpha = 0.5 produces. alpha is FIXED at 0.5 on purpose:
    sqrt is correctly-rounded in IEEE-754 (identical in every engine),
    while a general pow(x, alpha) differs across libm implementations in
    the last ulp and would break the cross-engine hash.

    Per-doc keep/drop uses the shared md5 bucket (_stratum_bucket) over a
    10^8 bucket space — wide enough that floor(keep_prob * 1e8) only
    quantizes to zero beyond 10^16:1 stratum skew (a 10^4 space zeroed
    out at 10^8:1, i.e. one junk doc against a 10^8-doc stratum would
    have DROPPED the large stratum entirely); the threshold floor is the
    SAME double on both engines, mirrored in the oracle.

    NOT additive, by construction — unlike stratified_sample's fixed
    rates, the derived rates move when the corpus grows (a new smallest
    stratum lowers n_min and with it every threshold), so a resample can
    drop previously-kept docs. Pipelines needing stable membership
    across corpus growth should derive the rates once and FREEZE them
    into stratified_sample.

    NULL strata are EXCLUDED from both the rate derivation and the
    output (a NULL group would otherwise set n_min and silently deflate
    every real stratum's keep rate); route unknown-stratum docs through
    an explicit class upstream if they must be sampled.

    Returns kept rows as (id_col, stratum_col, n_stratum, n_min, bucket).

    Scale shape: one slim groupBy for the stratum counts (map-side
    combine), broadcast back onto the corpus; the filter itself is
    map-only. Text never shuffles."""
    base = docs.where(F.col(stratum_col).isNotNull())
    counts = base.groupBy(stratum_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_stratum")
    )
    nmin = counts.agg(F.min("n_stratum").cast("bigint").alias("n_min"))
    bucket = _stratum_bucket(stratum_col, id_col, 100_000_000)
    keep_prob = F.sqrt(
        F.col("n_min").cast("double") / F.col("n_stratum").cast("double")
    )
    thresh = F.floor(keep_prob * F.lit(100_000_000.0))
    return (
        base.select(F.col(id_col), F.col(stratum_col), bucket.alias("bucket"))
        .join(F.broadcast(counts), stratum_col)
        .join(F.broadcast(nmin))
        .where(F.col("bucket") < thresh)
        .select(id_col, stratum_col, "n_stratum", "n_min", "bucket")
    )


def dpo_pairs(
    candidates: DataFrame,
    group_col: str = "prompt_id",
    prompt_col: str = "prompt",
    completion_col: str = "completion",
    score_col: str = "score",
    margin: float = 0.0,
) -> DataFrame:
    """Preference-pair construction for DPO / reward-model training data:
    per prompt group, chosen = the candidate completion that is maximal
    under the total order (score, md5(completion)), rejected = the minimal
    one; a pair is emitted only when the group has >= 2 candidates and
    chosen_score - rejected_score >= margin (use margin > 0 — it also
    guarantees chosen != rejected; at margin = 0 an all-tied group would
    pair a completion against itself).

    The md5 tie-break makes the pick deterministic and cross-engine
    reproducible on tied scores (the same first-by-total-order contract as
    canonical.first_id_wins); production swaps the heuristic score column
    for an RM score behind the same contract.

    Scale shape: ONE shuffle on the group key, and max_by/min_by are
    declarative aggregates with O(1) partial state per group (map-side
    combine) — a viral prompt with millions of candidate completions costs
    one row of reducer state, never a collect_list. Completion text rides
    inside the agg structs, i.e. each group moves exactly two texts plus
    its own candidates once; nothing is re-scanned.

    Reference parity note: no counterpart in the reference (per-document
    extraction service, semanticinformationextraction); this is part of
    the training-data surface the build brief adds on top of SURVEY §2.
    """
    tie = F.md5(F.col(completion_col))
    order = F.struct(F.col(score_col).alias("s"), tie.alias("t"))
    cand = F.struct(
        F.col(completion_col).alias("c"), F.col(score_col).alias("s")
    )
    agg = candidates.groupBy(group_col).agg(
        F.min(prompt_col).alias(prompt_col),
        F.max_by(cand, order).alias("_hi"),
        F.min_by(cand, order).alias("_lo"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        agg.where(
            (F.col("_n") >= 2)
            & (F.col("_hi.s") - F.col("_lo.s") >= F.lit(float(margin)))
        )
        .select(
            group_col,
            prompt_col,
            F.col("_hi.c").alias("chosen"),
            F.col("_lo.c").alias("rejected"),
            F.col("_hi.s").alias("score_chosen"),
            F.col("_lo.s").alias("score_rejected"),
        )
    )


def dedup_sample_weights(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Soft-dedup sampling weights: instead of DROPPING duplicates, keep
    every document and weight it by 1/|cluster| so the training sampler
    sees each unique text once in expectation — the repetition-penalty
    weighting LM data pipelines use when hard dedup is too lossy (the
    continuous counterpart of dedup.exact_dedup, same md5(normalized
    text) clustering, same min-id canonical pick).

    Shape mirrors exact_dedup's bounded-state contract: one groupBy on
    the 32-byte text hash (count + min id — constant reducer state even
    on a degenerate corpus of identical docs), then one slim join back on
    (id, hash); the text column itself never shuffles. Weight is ONE IEEE
    division of exact integers, so the table is engine-exact. Returns
    (id, cluster_size, weight, is_canonical).
    """
    from kgx.dedup import _norm_text

    h = docs.select(
        F.col(id_col), F.md5(_norm_text(F.col(text_col))).alias("h")
    )
    sizes = h.groupBy("h").agg(
        F.count("*").alias("cluster_size"), F.min(id_col).alias("keep_id")
    )
    return (
        h.join(sizes, "h")
        .select(
            F.col(id_col),
            F.col("cluster_size"),
            (F.lit(1.0) / F.col("cluster_size")).alias("weight"),
            (F.col(id_col) == F.col("keep_id")).alias("is_canonical"),
        )
    )


def boilerplate_removal(
    docs: DataFrame,
    max_df: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level boilerplate stripping (the CCNet / RefinedWeb line-
    dedup pass): split each document into sentences, count each
    normalized sentence's DOCUMENT frequency across the corpus, drop
    sentences appearing in more than `max_df` documents (cookie banners,
    nav chrome, license footers), and reassemble the survivors in
    original order.

    Scale shape: the document-frequency groupBy and the join back both
    key on the 32-byte md5 of the normalized sentence, so sentence TEXT
    never shuffles — only (doc, pos, hash) triples move; reassembly is
    one groupBy(doc) with an array_sort(collect_list(struct(pos, sent)))
    whose state is bounded by the document's own sentence count. The
    conditional collect (boilerplate rows contribute NULL, which
    collect_list drops) keeps it to ONE aggregation for both the clean
    text and the removed-count audit column.

    Returns (id, clean_text, n_kept, n_removed); documents whose every
    sentence is boilerplate survive with clean_text = ''.
    """
    sent = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\. ")).alias("pos", "sent"),
    ).withColumn("h", F.md5(F.lower(F.trim(F.col("sent")))))
    dfreq = sent.groupBy("h").agg(
        F.countDistinct(id_col).alias("df")
    )
    tagged = sent.join(dfreq, "h")
    keep = F.col("df") <= F.lit(max_df)
    return tagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct(F.col("pos"), F.col("sent")))
                    )
                ),
                lambda x: x["sent"],
            ),
            ". ",
        ).alias("clean_text"),
        F.sum(keep.cast("int")).alias("n_kept"),
        F.sum((~keep).cast("int")).alias("n_removed"),
    )


def train_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test assignment: split by md5-hash bucket
    of the document id (buckets 0..train_pct-1 → train, next val_pct →
    val, rest → test). Hash-of-id splitting is the only scheme that
    stays STABLE under corpus growth, re-partitioning and re-runs —
    every engine and every run assigns the same document to the same
    split, no global sort or sampling state. Map-only (one expression
    per row, no shuffle). Returns the input plus (bucket, split).
    """
    from kgx.dedup import md5_hash60

    bucket = (
        md5_hash60(F.concat(F.col(id_col).cast("string"), F.lit(":split")))
        % 100
    ).cast("int")
    return docs.withColumn("bucket", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < train_pct, F.lit("train"))
        .when(F.col("bucket") < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def url_normalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Crawl-pipeline URL canonicalization: lowercase scheme+host, strip
    the fragment, drop tracking parameters (utm_*), and sort the
    remaining query parameters — the normalization pass that makes
    URL-keyed dedup/grouping see 'the same page' through superficial
    variants (case, param order, utm tags, #anchors).

    Pure expression arithmetic (regexp for the structural split, array
    ops for the param set), map-only — no shuffle, no UDF — so it runs
    at scan speed on 10^12 rows and a SQL oracle reproduces every byte.
    Returns the input plus `url_norm`.

    Contract: absolute http(s) URLs; params are compared as raw
    key=value strings (no percent-decoding — decoding changes identity
    and belongs to a fetch layer, not dedup); empty query after utm
    stripping drops the '?'.
    """
    no_frag = F.regexp_replace(F.col(url_col), r"#.*$", "")
    head = F.regexp_extract(no_frag, r"^([^?]*)", 1)
    query = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    scheme_host = F.lower(F.regexp_extract(head, r"(?i)^(https?://[^/]*)", 1))
    path = F.regexp_replace(head, r"(?i)^https?://[^/]*", "")
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.startswith("utm_"),
    )
    sorted_q = F.array_join(F.array_sort(params), "&")
    norm = F.concat(
        scheme_host,
        path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(
            F.lit("")
        ),
    )
    return df.withColumn("url_norm", norm)


def dsir_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_col: str = "is_target",
    n_buckets: int = 1024,
    scale: int = 1_000_000,
) -> DataFrame:
    """Data Selection with Importance Resampling weights (Xie et al.
    2023, DSIR): score every document in a raw pool by how much it looks
    like a small TARGET domain, using hashed-unigram bag-of-words
    importance ratios — the corpus-reweighting pass an LM pretraining
    pipeline runs to up-sample quality domains without training a
    classifier (reference analogue: none — the reference scores
    documents only against its KB; domain-targeted selection is part of
    the training-data surface this engine adds).

    Engine-exact contract (the whole point of the hashed formulation):
      bucket(w)  = md5_hash60(w) % n_buckets            (cross-engine md5)
      p_t(b)     = (c_t(b)+1) / (T_t+V)   add-1 smoothed target unigram LM
      p_r(b)     = (c_r(b)+1) / (T_r+V)   same over the full raw pool
      weight(d)  = mean over tokens of p_t(bucket)/p_r(bucket)

    This is the log-free variant: the per-doc score is the ARITHMETIC
    mean of per-token importance ratios rather than DSIR's mean log —
    the same selection pressure, chosen because summing doubles across
    rows is row-order-dependent between engines while integer numerators
    are exact. Each per-token ratio is quantized to 1e-6 by one integral
    division ((tf*(c_t+1)*scale) div (c_r+1), all BIGINTs) so the sum is
    associative and bit-identical in any engine; the corpus-constant
    factor (T_r+V)/(T_t+V) and the 1/(n_tokens*scale) normalizer apply
    in ONE final IEEE double division.

    Shape: token explode → (doc, bucket) counts with map-side partials;
    the bucket LM dim is exactly n_buckets rows (broadcast — at 100 TB
    the model side stays KB-sized no matter the corpus), totals are one
    broadcast row, and the only data-sized shuffle is the per-doc term
    sum keyed on the document id. Returns (id, n_tokens, score_num_q,
    dsir_weight).
    """
    from kgx.dedup import md5_hash60
    from kgx.textops import tokens

    tok = docs.select(
        F.col(id_col).alias("id"),
        F.col(target_col).alias("is_t"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
    ).select(
        "id", "is_t", (md5_hash60(F.col("w")) % n_buckets).cast("int").alias("b")
    )
    tf = tok.groupBy("id", "is_t", "b").agg(F.count("*").alias("tf"))
    dim = cache.persist(
        tf.groupBy("b").agg(
            F.sum("tf").alias("c_r"),
            F.sum(F.when(F.col("is_t"), F.col("tf")).otherwise(F.lit(0))).alias("c_t"),
        )
    )
    totals = dim.agg(
        F.sum("c_r").cast("long").alias("t_r"), F.sum("c_t").cast("long").alias("t_t")
    )
    terms = tf.join(F.broadcast(dim), "b").select(
        "id",
        "tf",
        F.expr(
            f"(tf * (c_t + 1) * CAST({scale} AS BIGINT)) div (c_r + 1)"
        ).alias("term"),
    )
    per_doc = terms.groupBy("id").agg(
        F.sum("term").cast("long").alias("score_num_q"),
        F.sum("tf").cast("long").alias("n_tokens"),
    )
    return per_doc.crossJoin(F.broadcast(totals)).select(
        F.col("id").alias(id_col),
        "n_tokens",
        "score_num_q",
        F.expr(
            f"CAST(score_num_q * (t_r + {n_buckets}) AS DOUBLE)"
            f" / CAST(n_tokens * CAST({scale} AS BIGINT) * (t_t + {n_buckets})"
            " AS DOUBLE)"
        ).alias("dsir_weight"),
    )


def cdc_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (the FastCDC/LBFS idea, Muthitacharoen
    et al. 2001, applied at token granularity): a chunk boundary falls
    AFTER every token whose 60-bit md5 hash is ≡ 0 (mod divisor), so the
    expected chunk length is `divisor` tokens but boundary POSITIONS are
    decided by content, not offsets. The property fixed-size chunking
    (chunk_documents) cannot give: inserting or deleting one token
    reshuffles every downstream fixed-size chunk, while CDC boundaries
    re-synchronize immediately — so chunk-hash dedup between
    near-identical documents keeps matching everywhere outside the
    edit. divisor is the knob: real deployments run 2^6..2^10; the
    registry row uses 8 so the test corpus's short docs still exercise
    multi-chunk behavior.

    Engine-exact contract: boundary(i) := md5_hash60(tok_i) % divisor
    == 0 (0-based token position i); chunk j = tokens strictly after
    boundary j-1 through boundary j inclusive; the final partial chunk
    is always emitted (the last position acts as a forced boundary).
    Output one row per chunk: (id, chunk_idx, n_tokens, chunk_hash)
    with chunk_hash = md5 of the space-joined chunk — the key a
    chunk-level dedup joins on.

    Shape: MAP-ONLY, zero exchanges — boundary positions, per-chunk
    slices, and chunk hashes are all built in-row (each token lands in
    exactly one slice, so the whole row costs O(n_tokens)); contrast
    the explode→window cumulative-boundary formulation, which shuffles
    one row PER TOKEN just to number chunks. The oracle deliberately IS
    that window formulation — two different algorithms, one contract."""
    from kgx.textops import tokens

    toks = tokens(F.lower(F.col(text_col)))
    # 0-based end position of every chunk: content boundaries plus the
    # forced final one (array_union keeps ascending order and dedups
    # the case where the last token is itself a boundary)
    ends = F.expr(
        f"""array_union(
          filter(sequence(0, size(toks) - 1),
                 i -> CAST(conv(substring(md5(toks[i]), 1, 15), 16, 10)
                           AS LONG) % {divisor} = 0),
          array(size(toks) - 1))"""
    )
    # chunk j spans (ends[j-1], ends[j]] in 0-based positions; slice()
    # is 1-based, element_at(ends, j) is 1-based so it IS ends[j-1]
    chunks = F.expr(
        """transform(ends, (e, j) -> named_struct(
             'chunk_idx', j,
             'chunk_toks', slice(
               toks,
               CASE WHEN j = 0 THEN 1
                    ELSE element_at(ends, j) + 2 END,
               CASE WHEN j = 0 THEN e + 1
                    ELSE e - element_at(ends, j) END)))"""
    )
    return (
        docs.select(F.col(id_col), toks.alias("toks"))
        .where(F.size("toks") >= 1)
        .withColumn("ends", ends)
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            F.col(id_col),
            F.col("c.chunk_idx").cast("int").alias("chunk_idx"),
            F.size("c.chunk_toks").cast("int").alias("n_tokens"),
            F.md5(F.array_join("c.chunk_toks", " ")).alias("chunk_hash"),
        )
    )


def mix_interleave(
    df: DataFrame, source_col: str = "source", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic round-robin source interleave for training-epoch
    construction: every document gets its global epoch position under
    strict source striding (pos 0 = source A's first doc, pos 1 = B's
    first, ... wrapping; a source that runs out drops from later
    cycles). Shuffling a mixed corpus uniformly loses the mixing
    guarantee a curriculum wants — round-robin bounds the gap between
    consecutive docs of the same source at exactly n_live_sources.

    NO GLOBAL SORT: within-source order is a deterministic md5 rank
    (one window shuffle partitioned by source), and the global position
    comes from a closed form over the broadcast per-source size dim —
    for 0-based rank r in source s,
        epoch_pos = sum_{s'} min(r, n_{s'})
                    + |{s' < s : n_{s'} > r}|
    (docs of earlier cycles from every source, plus same-cycle docs of
    lexicographically earlier still-live sources). A driver that reads
    the epoch in epoch_pos order therefore never materializes a
    single-partition ORDER BY; it range-partitions on epoch_pos.
    The one skew surface is the per-source window when one source
    dominates the corpus; AQE splits the oversized partition, and the
    rank itself cannot be salted without breaking exactness (noted, not
    hidden)."""
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    r = (
        df.select(id_col, source_col)
        .withColumn("rank_in_source", (F.row_number().over(w) - 1).cast("long"))
    )
    sizes = (
        r.groupBy(source_col)
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.col(source_col).alias("s2"), "n")
    )
    contrib = F.least(F.col("rank_in_source"), F.col("n")) + F.when(
        (F.col("s2") < F.col(source_col)) & (F.col("n") > F.col("rank_in_source")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        r.join(F.broadcast(sizes))
        .groupBy(id_col, source_col, "rank_in_source")
        .agg(F.sum(contrib).cast("long").alias("epoch_pos"))
    )


def ppl_band(
    docs: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    score_col: str = "unigram_likelihood",
) -> DataFrame:
    """CCNet-style per-language perplexity banding: rank every document
    inside its language by LM score (best first) and cut the ranking
    into head / middle / tail THIRDS with pure-integer boundaries
    (r <= n div 3, r <= 2n div 3) — the buckets CCNet keeps (head+middle)
    or drops (tail), computed per LANGUAGE because a cross-language score
    comparison is meaningless and because the per-language window is what
    keeps the rank shuffle partitioned instead of global (the scale
    point: there is NO corpus-wide ORDER BY here).

    `scored` is any (id, score) frame — unigram_likelihood's log-free
    corpus-typicality score in the registry row; a KenLM perplexity
    column drops in unchanged. Ties break on the id (total order, so the
    SQL oracle reproduces every boundary)."""
    s = scored.select(id_col, score_col)
    d = docs.select(id_col, lang_col).join(s, id_col)
    w = Window.partitionBy(lang_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    n = F.count(F.lit(1)).over(Window.partitionBy(lang_col))
    return (
        d.select(
            id_col,
            lang_col,
            score_col,
            F.row_number().over(w).cast("bigint").alias("ppl_rank"),
            n.cast("bigint").alias("n_lang"),
        )
        .withColumn(
            "bucket",
            F.when(F.col("ppl_rank") <= F.expr("n_lang div 3"), "head")
            .when(F.col("ppl_rank") <= F.expr("(2 * n_lang) div 3"), "middle")
            .otherwise("tail"),
        )
    )
