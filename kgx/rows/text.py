"""Text-analysis rows: token counts, quality, lang-id, vocab, fingerprint,
repetition, TF-IDF, BM25, n-gram LM, BPE pair stats, duplicated-substring
coverage — plus their DuckDB oracle SQL.

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

def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = textops.token_count(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_bpe_pieces").cast("bigint").alias("n_bpe_pieces"),
    )
TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_pieces
FROM documents
"""
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = textops.quality_score(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_stopwords").cast("bigint").alias("n_stopwords"),
        F.col("n_punct").cast("bigint").alias("n_punct"),
        "stopword_ratio",
        "quality_flag",
    )
TEXT_QUALITY_SQL = r"""
WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','that'))) AS n_stopwords,
       len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
       CASE WHEN len(toks) > 0
            THEN CAST(len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','that'))) AS DOUBLE) / len(toks)
       END AS stopword_ratio,
       CASE WHEN len(toks) >= 5
                 AND len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','that'))) > 0
            THEN 'ok' ELSE 'low' END AS quality_flag
FROM t
"""
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = textops.lang_id(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "lang_pred")
# max over struct(hits, lang) picks highest hits; a tie on the max hit
# count (>=2 candidate languages) or zero hits resolves to 'und'
TEXT_LANG_SQL = """
WITH t AS (SELECT doc_id, string_split(lower(text),' ') AS toks FROM documents),
h AS (
  SELECT doc_id,
         [
          {'hits': len(list_filter(toks, x -> x IN ('der','und','nicht'))), 'lang': 'de'},
          {'hits': len(list_filter(toks, x -> x IN ('the','and','of'))),    'lang': 'en'},
          {'hits': len(list_filter(toks, x -> x IN ('el','y','los'))),      'lang': 'es'},
          {'hits': len(list_filter(toks, x -> x IN ('le','et','les'))),     'lang': 'fr'}
         ] AS cands
  FROM t
),
best AS (
  SELECT doc_id, list_aggregate(cands, 'max') AS b,
         len(list_filter(cands, c -> c.hits = list_aggregate(cands, 'max').hits)) AS nb
  FROM h
)
SELECT doc_id, CASE WHEN b.hits > 0 AND nb = 1 THEN b.lang ELSE 'und' END AS lang_pred
FROM best
"""
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus top-20 tokens (textops.top_tokens) — count desc, token
    asc tie-break; rank included."""
    return textops.top_tokens(_t(spark, sf_dir, "documents"), k=20)
TEXT_TOP_TOKENS_SQL = r"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
c AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok)
SELECT tok, n,
       CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS BIGINT) AS rank
FROM c ORDER BY n DESC, tok ASC LIMIT 20
"""
def text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics (textops.vocab_stats): types, hapax,
    tokens, type-token ratio — single exact double division."""
    return textops.vocab_stats(_t(spark, sf_dir, "documents"))
TEXT_VOCAB_SQL = r"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
c AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok)
SELECT count(*) AS n_types,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS type_token_ratio
FROM c
"""
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = textops.fingerprint(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "fp_exact", "fp_bag")
FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_exact,
       md5(array_to_string(list_sort(list_distinct(string_split(lower(text),' '))), ' ')) AS fp_bag
FROM documents
"""
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals (textops.repetition):
    duplicate-word fraction + top-bigram coverage, computed entirely
    in-row (map-only, zero shuffle)."""
    d = textops.repetition(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", "n_words", "dup_word_frac", "top_bigram_count", "top_bigram_frac"
    )
# the oracle counts bigrams via explode + groupBy — a deliberately
# DIFFERENT algorithm from Spark's in-row sorted-run fold, same answer
TEXT_REPETITION_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
base AS (
  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd FROM t
),
pos AS (
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS i FROM t
),
bg AS (
  SELECT doc_id,
         w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS bigram,
         lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
  FROM pos
),
cnt AS (
  SELECT doc_id, bigram, count(*) AS c FROM bg WHERE nxt IS NOT NULL GROUP BY 1, 2
),
best AS (SELECT doc_id, max(c) AS best FROM cnt GROUP BY 1)
SELECT b.doc_id,
       CAST(b.n AS BIGINT) AS n_words,
       CASE WHEN b.n > 0
            THEN CAST(b.n - b.nd AS DOUBLE) / CAST(b.n AS DOUBLE) END AS dup_word_frac,
       CAST(coalesce(best.best, 0) AS BIGINT) AS top_bigram_count,
       CASE WHEN b.n > 1
            THEN CAST(coalesce(best.best, 0) AS DOUBLE) / CAST(b.n - 1 AS DOUBLE)
       END AS top_bigram_frac
FROM base b LEFT JOIN best ON b.doc_id = best.doc_id
"""
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 TF-IDF terms (textops.tfidf_topk): rational-IDF
    variant (n_docs/df, log-free so the score is bit-reproducible
    cross-engine; see the operator docstring for how it differs from
    tf*ln(N/df)), deterministic tie-break on token."""
    return textops.tfidf_topk(_t(spark, sf_dir, "documents"), "doc_id", "text", 5)
TEXT_TFIDF_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.doc_freq, n.n_docs,
         CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(dfreq.doc_freq AS DOUBLE) AS tfidf
  FROM tf JOIN dfreq USING (token), n
),
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, token ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT doc_id, token, tf, doc_freq, n_docs, tfidf, rank FROM r WHERE rank <= 5
"""
def text_unigram_lik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram corpus probability (textops.unigram_likelihood):
    the log-free CCNet-style LM quality score — exact integer numerator /
    denominator plus one IEEE division."""
    return textops.unigram_likelihood(_t(spark, sf_dir, "documents"), "doc_id", "text")
TEXT_UNIGRAM_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
corpus AS (SELECT token, CAST(sum(tf) AS BIGINT) AS corpus_cnt FROM tf GROUP BY 1),
total AS (SELECT CAST(sum(corpus_cnt) AS BIGINT) AS total_tokens FROM corpus),
per_doc AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         CAST(sum(tf * corpus_cnt) AS BIGINT) AS lik_num
  FROM tf JOIN corpus USING (token) GROUP BY 1
)
SELECT doc_id, n_tokens, lik_num,
       CAST(n_tokens * total_tokens AS BIGINT) AS lik_den,
       CAST(lik_num AS DOUBLE) / CAST(n_tokens * total_tokens AS DOUBLE)
         AS unigram_likelihood
FROM per_doc, total
"""
def text_dup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring coverage per document
    (dedup.dup_substring_coverage): fraction of tokens covered by a
    5-token shingle that also occurs in another document — the
    exact-substring dedup signal, shingle-granular."""
    return dedup.dup_substring_coverage(_t(spark, sf_dir, "documents"), n=5)
TEXT_DUP_SUBSTRING_SQL = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id, len(toks) AS n_tokens,
         CASE WHEN len(toks) >= 5 THEN
           [{'pos': i - 1, 's': array_to_string(toks[i:i+4], ' ')}
            FOR i IN range(1, len(toks) - 3)]
         ELSE [{'pos': 0, 's': array_to_string(toks, ' ')}] END AS shl
  FROM tok
),
p0 AS (SELECT doc_id, n_tokens, unnest(shl) AS sp FROM sh),
p AS (
  SELECT doc_id, n_tokens, sp.pos AS pos,
         CAST(('0x' || substr(md5(sp.s), 1, 15)) AS BIGINT) AS h
  FROM p0
),
duph AS (
  SELECT h FROM (
    SELECT h, min(doc_id) AS dmin, max(doc_id) AS dmax FROM p GROUP BY 1
  ) WHERE dmin < dmax
),
dp AS (SELECT p.* FROM p JOIN duph USING (h)),
dcnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_positions FROM dp GROUP BY 1),
cov AS (
  SELECT doc_id, CAST(count(DISTINCT ti) AS BIGINT) AS covered_tokens FROM (
    SELECT doc_id, unnest(range(pos, least(pos + 5, n_tokens))) AS ti FROM dp
  ) GROUP BY 1
),
b AS (SELECT doc_id, n_tokens, len(shl) AS n_shingles FROM sh)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(b.n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(dc.n_dup_positions, 0) AS BIGINT) AS n_dup_positions,
       CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       CAST(coalesce(c.covered_tokens, 0) AS DOUBLE)
         / CAST(b.n_tokens AS DOUBLE) AS dup_fraction
FROM b
LEFT JOIN dcnt dc USING (doc_id)
LEFT JOIN cov c USING (doc_id)
"""
# BM25 probe terms: two common tokens and one rare one in the synthetic
# corpus, so the rational IDF spans two orders of magnitude on the row
_BM25_TERMS = ("join", "window", "dup")
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (textops.bm25): top-10 docs per probe term; rational
    log-free IDF, fixed double op order — bit-exact cross-engine."""
    return textops.bm25(
        _t(spark, sf_dir, "documents"), list(_BM25_TERMS), k=10
    )
TEXT_BM25_SQL = rf"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE token IN {str(_BM25_TERMS)} GROUP BY 1, 2
),
dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS doc_freq FROM tf GROUP BY 1),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS total_tokens
  FROM dl
),
scored AS (
  SELECT tf.token, tf.doc_id, tf.tf, dl.dl, dfreq.doc_freq, stats.n_docs,
         ((CAST(stats.n_docs - dfreq.doc_freq AS DOUBLE) + 0.5)
          / (CAST(dfreq.doc_freq AS DOUBLE) + 0.5))
         * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
            / (CAST(tf.tf AS DOUBLE)
               + 1.2 * ((1.0 - 0.75)
                        + 0.75 * (CAST(dl.dl AS DOUBLE)
                                  / (CAST(stats.total_tokens AS DOUBLE)
                                     / CAST(stats.n_docs AS DOUBLE)))))) AS score
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (token), stats
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY token
                                    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT token, doc_id, tf, dl, doc_freq, n_docs, score, rank
FROM ranked WHERE rank <= 10
"""
def text_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram LM counts (textops.ngram_lm): min_count=30 prunes to
    roughly the upper half of this corpus's bigram Zipf curve, so the row
    exercises both the pruning and the unpruned head_cnt denominator."""
    return textops.ngram_lm(_t(spark, sf_dir, "documents"), min_count=30)
TEXT_NGRAM_LM_SQL = r"""
WITH tok AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
),
bg AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM tok, unnest(range(1, len(toks))) t(i)
),
cnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2),
head AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS head_cnt FROM cnt GROUP BY 1)
SELECT cnt.w1, cnt.w2, cnt.cnt, head.head_cnt,
       CAST(cnt.cnt AS DOUBLE) / CAST(head.head_cnt AS DOUBLE) AS cond_p
FROM cnt JOIN head USING (w1)
WHERE cnt.cnt >= 30
"""
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the pruned bigram LM back to the corpus (textops.lm_score):
    per-doc mean bigram conditional + OOV counts — train(ngram_lm) and
    apply in one row, the full CCNet-style LM filter loop."""
    docs = _t(spark, sf_dir, "documents")
    lm = textops.ngram_lm(docs, min_count=30)
    return textops.lm_score(docs, lm)
TEXT_LM_SCORE_SQL = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
bgall AS (
  SELECT doc_id, i AS pos, toks[i] AS w1, toks[i+1] AS w2
  FROM tok, unnest(range(1, len(toks))) t(i)
),
cnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM bgall GROUP BY 1, 2),
lm AS (
  SELECT w1, w2,
         CAST(cnt AS DOUBLE)
           / CAST(sum(cnt) OVER (PARTITION BY w1) AS DOUBLE) AS cond_p
  FROM cnt
  QUALIFY cnt >= 30
),
joined AS (
  SELECT b.doc_id, b.pos, lm.cond_p
  FROM bgall b LEFT JOIN lm USING (w1, w2)
),
folded AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(CASE WHEN cond_p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(CAST(coalesce(cond_p, 0.0) AS DOUBLE) ORDER BY pos)),
           (a, b) -> a + b) AS p_sum
  FROM joined GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(f.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(f.n_oov, 0) AS BIGINT) AS n_oov,
       f.p_sum / CAST(f.n_bigrams AS DOUBLE) AS lm_score
FROM documents d LEFT JOIN folded f USING (doc_id)
"""
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE-training iteration over the corpus vocabulary
    (textops.bpe_pair_counts, merges=[]): adjacent-character pair counts
    weighted by word frequency, top-30 — the distributed kernel of
    tokenizer induction (the multi-merge trainer bpe_train is
    differential-tested against a pure-Python BPE; its per-iteration
    statistics are exactly this query under the learned merges)."""
    docs = _t(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(textops.tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    pc = textops.bpe_pair_counts(wf, merges=[])
    w = Window.orderBy(F.col("cnt").desc(), F.col("sym_a").asc(), F.col("sym_b").asc())
    return (
        pc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 30)
    )
TEXT_BPE_PAIRS_SQL = r"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
  FROM documents
),
wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1),
ch AS (
  SELECT freq, substr(word, i, 1) AS sym_a, substr(word, i + 1, 1) AS sym_b
  FROM wf, unnest(range(1, len(word))) t(i)
),
pc AS (
  SELECT sym_a, sym_b, CAST(sum(freq) AS BIGINT) AS cnt FROM ch GROUP BY 1, 2
),
r AS (
  SELECT *, CAST(row_number() OVER (ORDER BY cnt DESC, sym_a ASC, sym_b ASC)
                 AS BIGINT) AS rank
  FROM pc
)
SELECT sym_a, sym_b, cnt, rank FROM r WHERE rank <= 30
"""
def text_mlm_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style MLM example rows (textops.mlm_mask): 15% of tokens
    selected by hash draw, 80/10/10 mask/random/keep split, random
    replacements rank-picked from the corpus vocabulary — every draw is
    md5 arithmetic so the oracle reproduces the corpus bit-for-bit."""
    return textops.mlm_mask(_t(spark, sf_dir, "documents"))
TEXT_MLM_SQL = r"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
ex AS (
  SELECT id, generate_subscripts(toks, 1) - 1 AS tok_idx,
         unnest(toks) AS original
  FROM t
),
vocab AS (SELECT DISTINCT original AS vtok FROM ex),
ranks AS (SELECT vtok, row_number() OVER (ORDER BY vtok) AS rnk FROM vocab),
n AS (SELECT count(*) AS n_vocab FROM vocab),
sel AS (
  SELECT id, tok_idx, original,
         CAST(('0x' || substr(md5(id || ':' || CAST(tok_idx AS VARCHAR) || ':a'),
                              1, 15)) AS BIGINT) % 10 AS draw2,
         CAST(('0x' || substr(md5(id || ':' || CAST(tok_idx AS VARCHAR) || ':r'),
                              1, 15)) AS BIGINT) % n.n_vocab + 1 AS rrnk
  FROM ex CROSS JOIN n
  WHERE CAST(('0x' || substr(md5(id || ':' || CAST(tok_idx AS VARCHAR)),
                             1, 15)) AS BIGINT) % 100 < 15
),
act AS (
  SELECT id, tok_idx, original,
         CASE WHEN draw2 < 8 THEN 'mask'
              WHEN draw2 = 8 THEN 'random'
              ELSE 'keep' END AS action,
         CASE WHEN draw2 = 8 THEN rrnk END AS rrnk
  FROM sel
)
SELECT a.id, a.tok_idx, a.original, a.action,
       CASE WHEN a.action = 'mask' THEN '[MASK]'
            WHEN a.action = 'random' THEN r.vtok
            ELSE a.original END AS model_input
FROM act a LEFT JOIN ranks r ON a.rrnk = r.rnk
"""
_SC_PCT = 15
def text_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption pretraining pairs (textops.span_corruption):
    ~15% of tokens masked by md5 rank arithmetic, masked runs collapsed
    to <extra_id_k> sentinels in the input, sentinel-prefixed spans as
    the target. Fully deterministic, so the oracle derives byte-identical
    (input_text, target_text) examples with the same two windows + one
    conditional list aggregation."""
    return textops.span_corruption(
        _t(spark, sf_dir, "documents"), mask_pct=_SC_PCT
    )
TEXT_SPAN_CORRUPTION_SQL = f"""
WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
tok AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
         unnest(toks) AS tok
  FROM t0
),
m AS (
  SELECT *,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                CAST(pos AS VARCHAR) || ':sc'), 1, 15)) AS BIGINT) % 100)
           < {_SC_PCT} AS masked
  FROM tok
),
runs AS (
  SELECT *,
         masked AND NOT coalesce(
           lag(masked) OVER (PARTITION BY doc_id ORDER BY pos), false)
           AS is_start
  FROM m
),
sids AS (
  SELECT *,
         sum(CASE WHEN is_start THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS sid
  FROM runs
),
pieces AS (
  SELECT doc_id, pos, sid, masked,
         CASE WHEN NOT masked THEN tok
              WHEN is_start THEN '<extra_id_' || CAST(sid AS VARCHAR) || '>'
         END AS in_piece,
         CASE WHEN masked THEN
           CASE WHEN is_start
                THEN '<extra_id_' || CAST(sid AS VARCHAR) || '> ' || tok
                ELSE tok END
         END AS tgt_piece
  FROM sids
)
SELECT doc_id,
       coalesce(array_to_string(list(in_piece ORDER BY pos)
                       FILTER (WHERE in_piece IS NOT NULL), ' '), '')
         AS input_text,
       coalesce(array_to_string(list(tgt_piece ORDER BY pos)
                       FILTER (WHERE tgt_piece IS NOT NULL), ' '), '')
         AS target_text,
       CAST(max(sid) + 1 AS INTEGER) AS n_spans,
       CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
FROM pieces GROUP BY 1
"""
_PMI_MIN_COUNT = 5
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (textops.pmi_collocations, min pair count 5):
    association-ranked adjacent bigrams for phrase mining — multi-word KG
    node candidates and tokenizer merge seeds. Emits the exact PMI lift
    (one integer ratio + one IEEE division; log is monotone so ranking is
    identical). Bigrams form map-only in-row via transform over the token
    array; the oracle builds the same pairs with a positional self-join."""
    return textops.pmi_collocations(
        _t(spark, sf_dir, "documents"), min_count=_PMI_MIN_COUNT
    )
TEXT_PMI_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
p AS (
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
  FROM t
),
uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1),
tu AS (SELECT CAST(sum(c) AS BIGINT) AS t_uni FROM uni),
bg AS (
  SELECT a.w AS w1, b.w AS w2
  FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_count FROM bg GROUP BY 1, 2),
tb AS (SELECT CAST(sum(pair_count) AS BIGINT) AS t_big FROM bc)
SELECT w1, w2, pair_count, u1.c AS c1, u2.c AS c2,
       CAST(pair_count * t_uni * t_uni AS DOUBLE)
         / CAST(t_big * u1.c * u2.c AS DOUBLE) AS pmi_lift
FROM bc JOIN uni u1 ON bc.w1 = u1.w JOIN uni u2 ON bc.w2 = u2.w, tu, tb
WHERE pair_count >= 5
"""
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (textops.winnow_fingerprints, k=4 w=5 —
    MOSS's local document fingerprinting): distinct window-minimum
    k-gram hashes per document; any >= w+k-1-token shared substring
    between two docs is guaranteed a shared fingerprint. Spark side is
    map-only (zero exchanges) — selection happens in-row with
    transform/slice; the oracle reproduces the window minima with a
    frame-clipped ROWS window over positional k-gram hash rows."""
    return textops.winnow_fingerprints(_t(spark, sf_dir, "documents"))
TEXT_WINNOW_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
p AS (
  SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM t
),
g AS (
  SELECT doc_id, i AS pos,
         CAST(('0x' || substr(md5(array_to_string(toks[i:i+3], ' ')), 1, 15))
              AS BIGINT) AS hv
  FROM p
  WHERE i <= len(toks) - 3
),
m AS (
  SELECT doc_id, pos,
         min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM g
)
SELECT DISTINCT doc_id, fp FROM m WHERE pos <= greatest(n - 4, 1)
"""
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scores (textops.rake_keywords): per-word
    co-occurrence degree / frequency over stopword-delimited candidate
    phrases — deg and freq exact integers, score one IEEE division.
    Phrase segmentation is one map-only regexp; the only exchange is the
    per-word groupBy."""
    return textops.rake_keywords(_t(spark, sf_dir, "documents"))
TEXT_RAKE_SQL = r"""
WITH t AS (
  SELECT regexp_replace(lower(trim(text)),
                        '\b(the|a|of|and|to|in|is|that)\b', '|', 'g') AS s
  FROM documents
),
ph AS (SELECT trim(unnest(string_split(s, '|'))) AS p FROM t),
ws AS (
  SELECT regexp_split_to_array(p, '\s+') AS w FROM ph WHERE p <> ''
),
pairs AS (SELECT unnest(w) AS word, len(w) AS pl FROM ws)
SELECT word,
       CAST(count(*) AS BIGINT) AS freq,
       CAST(sum(pl) AS BIGINT) AS deg,
       CAST(sum(pl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rake_score
FROM pairs GROUP BY 1
"""
def text_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TextRank (Mihalcea & Tarau 2004) keywords: adjacent
    content-word pairs (both tokens >= 4 chars, direct adjacency only —
    the documented contract; no stopword-skip window) form an undirected
    word graph, ranked by the SAME exact integer PageRank engine as
    graph_pagerank (graph.pagerank_int, 2 unrolled iterations, integral
    div arithmetic → bit-identical cross-engine), then the global top-50
    by (rank desc, word). The top-k window runs over the VOCABULARY-sized
    rank table, never the corpus — one small-window pass."""
    t = _t(spark, sf_dir, "documents").select(
        textops.tokens(F.lower(F.col("text"))).alias("toks")
    )
    pairs = t.select(
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("x"),
                        F.element_at(F.col("toks"), i + 1).alias("y"),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("p")
    )
    e0 = (
        pairs.select(
            F.least("p.x", "p.y").alias("a"), F.greatest("p.x", "p.y").alias("b")
        )
        .filter(
            (F.length("a") >= 4) & (F.length("b") >= 4) & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    und = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    ranks = graph.pagerank_int(und, iters=2)
    w = Window.orderBy(F.col("rank").desc(), F.col("word"))
    return (
        ranks.select(F.col("node").alias("word"), "rank")
        .withColumn("pos", F.row_number().over(w).cast("int"))
        .filter(F.col("pos") <= 50)
    )
from kgx.rows.events import _PR_ITER  # noqa: E402  (unrolled iteration CTE)
TEXT_TEXTRANK_SQL = (
    """
WITH t AS (SELECT string_split(lower(text), ' ') AS toks FROM documents),
pr AS (
  SELECT unnest([struct_pack(x := toks[i], y := toks[i+1])
                 FOR i IN range(1, len(toks))]) AS p
  FROM t
),
e0 AS (
  SELECT DISTINCT least(p.x, p.y) AS a, greatest(p.x, p.y) AS b
  FROM pr
  WHERE len(p.x) >= 4 AND len(p.y) >= 4 AND p.x <> p.y
),
und AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
r0 AS (SELECT src, CAST(1000000000000 AS BIGINT) AS r, deg FROM deg),"""
    + ",".join(_PR_ITER.format(i=i, j=i - 1) for i in (1, 2))
    + """,
f AS (
  SELECT src AS word, r AS rank,
         row_number() OVER (ORDER BY r DESC, src) AS pos
  FROM r2
)
SELECT word, rank, CAST(pos AS INTEGER) AS pos FROM f WHERE pos <= 50
"""
)
# fixed merge list for the encode row: common-English merges including two
# CHAINED pairs ((t,h)->(th,e) and (a,n)->(an,d)) so merge ordering is
# hash-pinned, not just membership
_BPE_ENC_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "f"), ("s", "t"),
    ("a", "t"), ("e", "n"),
]
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING over the corpus vocabulary (textops.bpe_encode): the
    inference half of the tokenizer family (text_bpe_pairs / bpe_train
    are the training half) under a fixed 12-merge list with two chained
    merges — greedy left-to-right fold per merge, in order. The oracle
    reproduces the fold with a sequential replace chain over the
    space-delimited symbol string: a single non-overlapping left-to-right
    `replace(' a b' -> ' ab')` pass is EXACTLY one greedy fold pass
    (both consume matches left to right and never rescan produced
    output within the pass), and symbols never contain spaces, so the
    leading-space delimiter cannot misbind inside a multi-char symbol.
    Map-only over the vocab table — zero shuffles after the vocab
    groupBy."""
    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(textops.tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    return textops.bpe_encode(vocab, _BPE_ENC_MERGES)
_enc_expr = "regexp_replace(word, '(.)', ' \\1', 'g')"
for _a, _b in _BPE_ENC_MERGES:
    _enc_expr = f"replace({_enc_expr}, ' {_a} {_b}', ' {_a}{_b}')"
TEXT_BPE_ENCODE_SQL = rf"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
  FROM documents
),
v AS (SELECT word, count(*) AS freq FROM tok GROUP BY word),
e AS (SELECT word, freq, {_enc_expr} AS s FROM v)
SELECT word, freq, CAST(length(word) AS INTEGER) AS n_chars,
       CAST(len(string_split(trim(s), ' ')) AS INTEGER) AS n_pieces,
       trim(s) AS encoded
FROM e
"""
