"""Training-data curation rows: decontamination, packing, PII redaction,
stratified/temperature sampling, keep-lists, chunking, group caps — plus
their DuckDB oracle SQL.

Split out of kgx/queries.py in round 5 (VERDICT r4 #7) — bodies moved
verbatim; kgx.queries re-exports everything and holds the ordered
REGISTRY.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from kgx import aggregate as agg_mod
from kgx import (
    asof,
    assemble,
    dedup,
    graph,
    linking,
    mentions,
    multimodal,
    relations,
    resources,
    similarity,
    textops,
)

from kgx.rows.base import _t  # noqa: E501
from kgx.rows.dedupann import DEDUP_CANON_SQL, dedup_canonical_docs  # noqa: E501
from kgx.rows.text import TEXT_QUALITY_SQL, text_quality  # noqa: E501

# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# name -> (spark_fn, oracle_sql | None)
# ---------------------------------------------------------------------------
# Training-data curation (kgx.curation): decontamination, packing, PII,
# stratified sampling — the post-dedup "what enters the training mix" stage.
# ---------------------------------------------------------------------------

_CONTAM_N = 8
_CONTAM_THRESHOLD = 0.10
def curate_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every doc_id % 50 == 0 doc plays the
    held-out benchmark; the rest of the corpus is checked for 8-gram
    overlap. Benchmark shingle hashes are broadcast (tiny vs corpus), so
    the corpus text is scanned once, map-only, and only per-doc count
    longs shuffle."""
    from kgx import curation

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    out = curation.contamination_flags(
        corpus, bench, n=_CONTAM_N, threshold=_CONTAM_THRESHOLD
    )
    return out.select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        "n_overlap",
        "overlap_ratio",
        "contaminated",
    )
CURATE_CONTAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {_CONTAM_N} THEN
           list_distinct([array_to_string(toks[i:i+{_CONTAM_N - 1}], ' ')
                          FOR i IN range(1, len(toks) - {_CONTAM_N - 2})])
         ELSE [array_to_string(toks, ' ')] END AS sh
  FROM tok
),
shh AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(unnest(sh)), 1, 15)) AS BIGINT) AS sh_h
  FROM sh
),
bench AS (SELECT DISTINCT sh_h FROM shh WHERE doc_id % 50 = 0),
corpus AS (SELECT * FROM shh WHERE doc_id % 50 <> 0),
agg AS (
  SELECT c.doc_id,
         count(*) AS n_shingles,
         CAST(sum(CASE WHEN b.sh_h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_overlap
  FROM corpus c LEFT JOIN bench b USING (sh_h)
  GROUP BY c.doc_id
)
SELECT doc_id, n_shingles, n_overlap,
       CAST(n_overlap AS DOUBLE) / n_shingles AS overlap_ratio,
       (CAST(n_overlap AS DOUBLE) / n_shingles) >= {_CONTAM_THRESHOLD}
         AS contaminated
FROM agg
"""
_PACK_BUDGET = 120
def curate_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit-in-order sequence packing into 120-token bins,
    parallel per `source` via applyInPandas (per-group running state is the
    one place the registry legitimately needs keyed Python state)."""
    from kgx import curation

    return curation.pack_sequences(
        _t(spark, sf_dir, "documents"), budget=_PACK_BUDGET
    ).select("source", "doc_id", "n_tokens", "bin_id")
CURATE_PACK_SQL = f"""
WITH RECURSIVE t AS (
  SELECT source, doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
walk AS (
  SELECT source, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.source, t.doc_id, t.n_tokens, t.rn,
         CASE WHEN w.fill + t.n_tokens > {_PACK_BUDGET}
              THEN w.bin_id + 1 ELSE w.bin_id END,
         CASE WHEN w.fill + t.n_tokens > {_PACK_BUDGET}
              THEN t.n_tokens ELSE w.fill + t.n_tokens END
  FROM t JOIN walk w ON t.source = w.source AND t.rn = w.rn + 1
)
SELECT source, doc_id, n_tokens, bin_id FROM walk
"""
def curate_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over docs deterministically augmented with PII-shaped
    spans (the synthetic corpus has none), so counts are non-trivial. All
    JVM regexps in one codegen stage; the oracle replays the identical
    Java∩RE2 patterns with DuckDB's 'g' flag."""
    from kgx import curation

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ref "),
            (F.lit(100000000) + F.col("doc_id") * 37).cast("string"),
        ),
    )
    return curation.pii_redact(docs).select(
        "doc_id", "n_email", "n_ipv4", "n_digits", "redacted_md5"
    )
CURATE_PII_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com from 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.7 ref '
              || CAST(100000000 + doc_id * 37 AS VARCHAR) AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS BIGINT)
         AS n_email,
       CAST(len(regexp_extract_all(text,
         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT)
         AS n_ipv4,
       CAST(len(regexp_extract_all(text, '\b[0-9]{9,}\b')) AS BIGINT)
         AS n_digits,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
         '\b[0-9]{9,}\b', '<NUM>', 'g')) AS redacted_md5
FROM aug
"""
_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "zh": 0.25}
_SAMPLE_DEFAULT = 0.1
def curate_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language hash sampling (training-mix weights:
    en 50%, de/zh 25%, everything else 10%). Map-only, additive, no RNG
    state — the md5 bucket makes resamples stable as the corpus grows."""
    from kgx import curation

    return curation.stratified_sample(
        _t(spark, sf_dir, "documents"),
        rates=_SAMPLE_RATES,
        default_rate=_SAMPLE_DEFAULT,
    ).select("doc_id", "lang", "bucket")
CURATE_SAMPLE_SQL = """
WITH b AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)),
                              1, 15)) AS BIGINT) % 10000 AS bucket
  FROM documents
)
SELECT doc_id, lang, bucket FROM b
WHERE bucket < CASE lang WHEN 'en' THEN 5000
                         WHEN 'de' THEN 2500
                         WHEN 'zh' THEN 2500
                         ELSE 1000 END
"""
def curate_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation FUNNEL, composed end-to-end: each doc gets the first
    matching status in a fixed precedence —
      benchmark     held-out eval doc (doc_id % 50 == 0), never trainable
      contaminated  8-gram overlap with the benchmark >= threshold
      near_dup      n-gram-Jaccard cluster member that is not its keeper
      low_quality   quality_flag != 'ok' (textops heuristics)
      not_sampled   dropped by the per-language training-mix rates
      kept          enters the training mix
    Every stage is an already-oracle-checked operator; this row checks
    their COMPOSITION (joins + precedence) cross-engine. All four side
    tables are tiny relative to the corpus at scale: flags/keeper/quality
    rows are (id, small) pairs, so the joins stay narrow even at 10^10
    docs, and the only text scans are the ones inside the component ops."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    contam = curate_contamination(spark, sf_dir).select("doc_id", "contaminated")
    canon = dedup_canonical_docs(spark, sf_dir).select("doc_id", "keep_id")
    quality = text_quality(spark, sf_dir).select("doc_id", "quality_flag")
    samp = (
        curate_stratified_sample(spark, sf_dir)
        .select("doc_id")
        .withColumn("sampled", F.lit(1))
    )
    status = (
        F.when(F.col("doc_id") % 50 == 0, F.lit("benchmark"))
        .when(F.col("contaminated"), F.lit("contaminated"))
        .when(
            F.col("keep_id").isNotNull() & (F.col("keep_id") != F.col("doc_id")),
            F.lit("near_dup"),
        )
        .when(F.col("quality_flag") != "ok", F.lit("low_quality"))
        .when(F.col("sampled").isNull(), F.lit("not_sampled"))
        .otherwise(F.lit("kept"))
    )
    return (
        docs.join(contam, "doc_id", "left")
        .join(canon, "doc_id", "left")
        .join(quality, "doc_id", "left")
        .join(samp, "doc_id", "left")
        .select("doc_id", "lang", status.alias("status"))
    )
CURATE_KEEP_SQL = f"""
WITH contam AS ({CURATE_CONTAM_SQL}),
canon AS ({DEDUP_CANON_SQL}),
quality AS ({TEXT_QUALITY_SQL}),
samp AS ({CURATE_SAMPLE_SQL})
SELECT d.doc_id, d.lang,
       CASE WHEN d.doc_id % 50 = 0 THEN 'benchmark'
            WHEN c.contaminated THEN 'contaminated'
            WHEN k.keep_id IS NOT NULL AND k.keep_id <> d.doc_id
                 THEN 'near_dup'
            WHEN q.quality_flag <> 'ok' THEN 'low_quality'
            WHEN s.doc_id IS NULL THEN 'not_sampled'
            ELSE 'kept' END AS status
FROM documents d
LEFT JOIN contam c ON c.doc_id = d.doc_id
LEFT JOIN canon k ON k.doc_id = d.doc_id
LEFT JOIN quality q ON q.doc_id = d.doc_id
LEFT JOIN samp s ON s.doc_id = d.doc_id
"""
def curate_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (curation.chunk_documents): 32-token
    chunks, 8-token overlap, tail kept — one row per chunk, map-only."""
    from kgx import curation

    return curation.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    )
CURATE_CHUNK_SQL = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
c AS (
  SELECT doc_id,
         [{idx: i, s: i * 24} FOR i IN
          range(0, ((greatest(len(toks) - 32, 0) + 23) // 24) + 1)] AS ch,
         toks
  FROM tok
),
u AS (SELECT doc_id, toks, unnest(ch) AS cc FROM c)
SELECT doc_id,
       CAST(cc.idx AS BIGINT) AS chunk_idx,
       CAST(cc.s AS BIGINT) AS start_tok,
       CAST(len(toks[cc.s + 1 : cc.s + 32]) AS BIGINT) AS n_chunk_tokens,
       array_to_string(toks[cc.s + 1 : cc.s + 32], ' ') AS chunk_text
FROM u
"""
def curate_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (curation.group_cap): keep the 15
    smallest-hash docs per source — the per-domain share bound; sources
    hold 25 docs each at sf0.01, so the cap genuinely prunes (15/25)."""
    from kgx import curation

    return curation.group_cap(_t(spark, sf_dir, "documents"), cap=15)
CURATE_GROUP_CAP_SQL = """
WITH slim AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hash_rank
  FROM documents
  WHERE source IS NOT NULL
),
r AS (
  SELECT doc_id, source, hash_rank,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY hash_rank ASC, doc_id ASC) AS BIGINT) AS rank
  FROM slim
)
SELECT doc_id, source, hash_rank, rank FROM r WHERE rank <= 15
"""
def curate_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened (alpha=0.5) mixture sampling over languages
    (curation.temperature_sample): en (218 docs at sf0.01) downsamples to
    ~sqrt(64*218) while fr (the smallest stratum) keeps everything —
    derived rates, unlike curate_stratified_sample's user-given ones."""
    from kgx import curation

    return curation.temperature_sample(_t(spark, sf_dir, "documents"), "lang")
CURATE_TEMPERATURE_SQL = """
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_stratum FROM documents
  WHERE lang IS NOT NULL GROUP BY 1
),
nm AS (SELECT CAST(min(n_stratum) AS BIGINT) AS n_min FROM counts),
b AS (
  SELECT d.doc_id, d.lang,
         CAST(('0x' || substr(md5(d.lang || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 100000000 AS bucket,
         c.n_stratum, nm.n_min
  FROM documents d JOIN counts c USING (lang), nm
  WHERE d.lang IS NOT NULL
)
SELECT doc_id, lang, n_stratum, n_min, bucket
FROM b
WHERE bucket < floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n_stratum AS DOUBLE)) * 100000000.0)
"""
_DPO_MARGIN = 3.0
def curate_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO preference pairs (curation.dpo_pairs): docs folded into 200
    prompt groups, score = length(text) % 50 (deterministic stand-in for
    an RM score, with deliberate collisions so the md5 tie-break is
    exercised), margin 3.0. chosen/rejected = max/min under the total
    order (score, md5(completion)); one max_by/min_by groupBy, no
    candidate lists."""
    from kgx import curation

    cand = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 200).cast("string").alias("prompt_id"),
        F.concat(F.lit("prompt-"), (F.col("doc_id") % 200).cast("string")).alias(
            "prompt"
        ),
        F.col("text").alias("completion"),
        (F.length("text") % 50).cast("double").alias("score"),
    )
    return curation.dpo_pairs(cand, margin=_DPO_MARGIN)
CURATE_DPO_SQL = f"""
WITH cand AS (
  SELECT CAST(doc_id % 200 AS VARCHAR) AS prompt_id,
         'prompt-' || CAST(doc_id % 200 AS VARCHAR) AS prompt,
         text AS completion,
         CAST(length(text) % 50 AS DOUBLE) AS score,
         md5(text) AS tie
  FROM documents
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY prompt_id
                            ORDER BY score DESC, tie DESC) AS rk_hi,
         row_number() OVER (PARTITION BY prompt_id
                            ORDER BY score ASC, tie ASC) AS rk_lo,
         count(*) OVER (PARTITION BY prompt_id) AS n_cand
  FROM cand
)
SELECT h.prompt_id, h.prompt,
       h.completion AS chosen, l.completion AS rejected,
       h.score AS score_chosen, l.score AS score_rejected
FROM (SELECT * FROM ranked WHERE rk_hi = 1) h
JOIN (SELECT * FROM ranked WHERE rk_lo = 1) l USING (prompt_id)
WHERE h.n_cand >= 2 AND h.score - l.score >= {_DPO_MARGIN}
"""
def curate_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-dedup sampling weights (curation.dedup_sample_weights): every
    doc kept, weighted 1/|exact-dup cluster| with the min-id row flagged
    canonical — the repetition-penalty alternative to dropping dups. Same
    deterministic perturbed-copy injection as dedup_exact (doc_id%10==3,
    uppercased, padded) so normalization, clustering and the weight
    division all see non-trivial clusters; the text column never
    shuffles (32-byte hash + id only)."""
    from kgx import curation

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit("  ")).alias("text"),
    )
    return curation.dedup_sample_weights(docs.unionByName(dup))
CURATE_DEDUP_WEIGHTS_SQL = r"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000000, '  ' || upper(text) || '  '
  FROM documents WHERE doc_id % 10 = 3
),
h AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
  FROM src
),
g AS (
  SELECT h, count(*) AS cluster_size, min(doc_id) AS keep_id
  FROM h GROUP BY h
)
SELECT h.doc_id, g.cluster_size,
       1.0 / g.cluster_size AS weight,
       h.doc_id = g.keep_id AS is_canonical
FROM h JOIN g USING (h)
"""
_BP_MAX_DF = 10
def curate_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate stripping (curation.boilerplate_removal,
    the CCNet/RefinedWeb line-dedup pass): a shared footer sentence is
    injected into EVERY document and a second one into doc_id%7==2 docs,
    so the document-frequency threshold (df > 10) must remove exactly the
    injected chrome while keeping all original content (every original
    text is corpus-unique). Sentence text never shuffles — df grouping
    and the join back key on the sentence's md5."""
    from kgx import curation

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(". subscribe to our newsletter today"),
            F.when(F.col("doc_id") % 7 == 2, F.lit(". all rights reserved"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return curation.boilerplate_removal(docs, max_df=_BP_MAX_DF)
CURATE_BOILERPLATE_SQL = f"""
WITH src AS (
  SELECT doc_id,
         text || '. subscribe to our newsletter today' ||
         CASE WHEN doc_id % 7 = 2 THEN '. all rights reserved' ELSE '' END
           AS text
  FROM documents
),
s0 AS (SELECT doc_id, string_split(text, '. ') AS sents FROM src),
s AS (
  SELECT doc_id, generate_subscripts(sents, 1) - 1 AS pos,
         unnest(sents) AS sent
  FROM s0
),
h AS (SELECT doc_id, pos, sent, md5(lower(trim(sent))) AS h FROM s),
dfreq AS (SELECT h, count(DISTINCT doc_id) AS df FROM h GROUP BY 1),
t AS (SELECT h.doc_id, h.pos, h.sent, d.df FROM h JOIN dfreq d USING (h))
SELECT doc_id,
       array_to_string(list(sent ORDER BY pos)
                       FILTER (WHERE df <= {_BP_MAX_DF}), '. ') AS clean_text,
       CAST(sum(CASE WHEN df <= {_BP_MAX_DF} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN df > {_BP_MAX_DF} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed
FROM t GROUP BY 1
"""
def curate_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/val/test split
    (curation.train_split, 90/5/5): stable under corpus growth and
    re-runs because assignment depends only on md5(doc_id) — the
    split-leakage-proof scheme an LM data pipeline needs (a random
    split reassigns docs every run). Map-only."""
    from kgx import curation

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return curation.train_split(docs)
CURATE_TRAIN_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id, source,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                    1, 15)) AS BIGINT) % 100 AS INTEGER) AS bucket
  FROM documents
)
SELECT doc_id, source, bucket,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""
def curate_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL canonicalization (curation.url_normalize): deterministic
    synthetic URLs over documents exercise every rule — mixed-case
    scheme/host (lowered), path case (preserved), utm_* tracking params
    (dropped), param order (sorted), fragments (stripped), and the
    empty-query collapse. Map-only; the oracle reproduces each regexp and
    list op byte-for-byte."""
    from kgx import curation

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW.Example"),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(".COM/Page/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=feed&b=2&a=1#frag"))
            .when(F.col("doc_id") % 3 == 1, F.lit("?a=1&b=2"))
            .otherwise(F.lit("#top")),
        ).alias("url"),
    )
    return curation.url_normalize(docs)
CURATE_URL_NORM_SQL = r"""
WITH src AS (
  SELECT doc_id,
         'HTTPS://WWW.Example' || CAST(doc_id % 20 AS VARCHAR) ||
         '.COM/Page/' || CAST(doc_id AS VARCHAR) ||
         CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&a=1#frag'
              WHEN doc_id % 3 = 1 THEN '?a=1&b=2'
              ELSE '#top' END AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
         regexp_extract(regexp_replace(url, '#.*$', ''), '^([^?]*)', 1) AS head,
         regexp_extract(regexp_replace(url, '#.*$', ''), '\?(.*)$', 1) AS query
  FROM src
),
norm AS (
  SELECT doc_id, url,
         lower(regexp_extract(head, '(?i)^(https?://[^/]*)', 1)) AS scheme_host,
         regexp_replace(head, '(?i)^https?://[^/]*', '') AS path,
         array_to_string(
           list_sort(list_filter(string_split(query, '&'),
                                 p -> p <> '' AND NOT starts_with(p, 'utm_'))),
           '&') AS sorted_q
  FROM parts
)
SELECT doc_id, url,
       scheme_host || path ||
       CASE WHEN sorted_q <> '' THEN '?' || sorted_q ELSE '' END AS url_norm
FROM norm
"""
_DSIR_TARGET = ("src0", "src1", "src2", "src3")
def curate_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (curation.dsir_weights, Xie et al. 2023):
    every document in the raw pool scored by hashed-unigram importance
    ratio against a target domain — here sources src0..src3 (20% of the
    corpus) stand in for the quality domain, so the weights measure
    "how src0-3-like is this document" with add-1-smoothed 1024-bucket
    LMs. Log-free mean-of-ratios variant with per-token 1e-6 integral
    quantization (see the operator docstring for the exact contract the
    oracle reproduces term-for-term); bucket LMs broadcast (1024 rows),
    the only data-sized shuffle keys on doc_id."""
    from kgx import curation

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.col("source").isin(*_DSIR_TARGET).alias("is_target"),
    )
    return curation.dsir_weights(docs)
CURATE_DSIR_SQL = r"""
WITH tok AS (
  SELECT doc_id, source IN ('src0','src1','src2','src3') AS is_t,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
),
bk AS (
  SELECT doc_id, is_t,
         CAST(CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 1024
              AS INTEGER) AS b
  FROM tok
),
tf AS (SELECT doc_id, is_t, b, count(*) AS tf FROM bk GROUP BY 1, 2, 3),
dim AS (
  SELECT b, CAST(sum(tf) AS BIGINT) AS c_r,
         CAST(sum(CASE WHEN is_t THEN tf ELSE 0 END) AS BIGINT) AS c_t
  FROM tf GROUP BY 1
),
tot AS (
  SELECT CAST(sum(c_r) AS BIGINT) AS t_r, CAST(sum(c_t) AS BIGINT) AS t_t
  FROM dim
),
terms AS (
  SELECT doc_id, tf.tf,
         (tf.tf * (d.c_t + 1) * 1000000) // (d.c_r + 1) AS term
  FROM tf JOIN dim d USING (b)
),
pd AS (
  SELECT doc_id, CAST(sum(term) AS BIGINT) AS score_num_q,
         CAST(sum(tf) AS BIGINT) AS n_tokens
  FROM terms GROUP BY 1
)
SELECT doc_id, n_tokens, score_num_q,
       CAST(score_num_q * (t_r + 1024) AS DOUBLE)
         / CAST(n_tokens * 1000000 * (t_t + 1024) AS DOUBLE) AS dsir_weight
FROM pd, tot
"""
_CDC_DIVISOR = 8
def curate_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (curation.cdc_chunks, divisor=8):
    boundary after every token whose md5_hash60 ≡ 0 (mod 8), final
    partial chunk always emitted — the insertion-robust chunk keys a
    chunk-level dedup joins on, which fixed-size chunking
    (curate_chunk_documents) cannot provide. Spark side is map-only
    (in-row boundary scan + slices); the oracle is the
    explode→window cumulative-boundary formulation — two different
    algorithms, one contract."""
    from kgx import curation

    return curation.cdc_chunks(
        _t(spark, sf_dir, "documents"), divisor=_CDC_DIVISOR
    )
CURATE_CDC_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
p AS (
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS i
  FROM t
),
b AS (
  SELECT doc_id, w, i,
         CASE WHEN CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 8 = 0
              THEN 1 ELSE 0 END AS isb
  FROM p
),
c AS (
  SELECT doc_id, w, i,
         coalesce(sum(isb) OVER (PARTITION BY doc_id ORDER BY i
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS chunk_idx
  FROM b
)
SELECT doc_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(count(*) AS INTEGER) AS n_tokens,
       md5(string_agg(w, ' ' ORDER BY i)) AS chunk_hash
FROM c GROUP BY doc_id, chunk_idx
"""
def curate_mix_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-robin source-interleaved epoch order (curation.mix_interleave)
    over documents bucketed into three synthetic sources (doc_id % 3 →
    chat/code/web): each doc's global epoch_pos under strict striding,
    computed from the closed form over the broadcast source-size dim —
    no global ORDER BY anywhere in the plan."""
    from kgx import curation

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    src = F.element_at(
        F.array(F.lit("chat"), F.lit("code"), F.lit("web")),
        (F.col("doc_id") % 3).cast("int") + 1,
    )
    return curation.mix_interleave(docs.withColumn("source", src))
CURATE_MIX_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'chat' WHEN 1 THEN 'code'
              ELSE 'web' END AS source
  FROM documents
),
r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                          doc_id) - 1 AS BIGINT)
           AS rank_in_source
  FROM d
),
sizes AS (SELECT source AS s2, CAST(count(*) AS BIGINT) AS n FROM r GROUP BY 1)
SELECT r.doc_id, r.source, r.rank_in_source,
       CAST(sum(least(r.rank_in_source, s.n)
                + CASE WHEN s.s2 < r.source AND s.n > r.rank_in_source
                       THEN 1 ELSE 0 END) AS BIGINT) AS epoch_pos
FROM r CROSS JOIN sizes s
GROUP BY r.doc_id, r.source, r.rank_in_source
"""
def curate_ppl_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity banding (curation.ppl_band) over
    the unigram-LM corpus-typicality score, ranked PER LANGUAGE with
    integer third-boundaries — the quality-bucketing step between LM
    scoring and mixture sampling. No corpus-global ORDER BY: the rank
    window partitions on lang."""
    from kgx import curation, textops

    docs = _t(spark, sf_dir, "documents")
    scored = textops.unigram_likelihood(docs)
    return curation.ppl_band(docs, scored)
CURATE_PPL_BAND_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
corpus AS (SELECT token, CAST(sum(tf) AS BIGINT) AS corpus_cnt FROM tf GROUP BY 1),
total AS (SELECT CAST(sum(corpus_cnt) AS BIGINT) AS total_tokens FROM corpus),
per_doc AS (
  SELECT doc_id,
         CAST(sum(tf * corpus_cnt) AS BIGINT) AS lik_num,
         CAST(sum(tf) AS BIGINT) AS n_tokens
  FROM tf JOIN corpus USING (token) GROUP BY 1
),
s AS (
  SELECT doc_id,
         CAST(lik_num AS DOUBLE) / CAST(n_tokens * total_tokens AS DOUBLE)
           AS unigram_likelihood
  FROM per_doc, total
),
r AS (
  SELECT d.doc_id, d.lang, s.unigram_likelihood,
         CAST(row_number() OVER (PARTITION BY d.lang
                                 ORDER BY s.unigram_likelihood DESC,
                                          d.doc_id ASC) AS BIGINT) AS ppl_rank,
         CAST(count(*) OVER (PARTITION BY d.lang) AS BIGINT) AS n_lang
  FROM documents d JOIN s USING (doc_id)
)
SELECT doc_id, lang, unigram_likelihood, ppl_rank, n_lang,
       CASE WHEN ppl_rank <= n_lang // 3 THEN 'head'
            WHEN ppl_rank <= (2 * n_lang) // 3 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM r
"""
