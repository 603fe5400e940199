"""Text analysis operators for large-scale training-data pipelines.

All JVM-side expressions (whole-stage codegen) — no Python in the hot path.
Designed for the `documents(doc_id, text, lang, source, n_chars)` shape but
parameterized by column name.

Operators:
  * token_count        — whitespace tokens + a BPE-ish subword estimate
  * quality_score      — length / stopword-ratio / punctuation heuristics
  * lang_id            — marker-token n-gram heuristic (deterministic)
  * fingerprint        — md5 content fingerprint over normalized text +
                         a shingle-based rolling fingerprint
  * tfidf_topk         — per-doc top-k terms by (rational-IDF) TF-IDF
  * unigram_likelihood — log-free unigram-LM quality score (CCNet-style)
  * bm25               — Okapi BM25 doc relevance per query term (rational
                         log-free IDF; rank-identical per term)
  * ngram_lm           — corpus bigram counts + MLE conditionals with
                         min-count pruning (MapReduce n-gram LM stage)
  * lm_score           — apply the bigram LM back to documents: mean
                         conditional probability + OOV counts (the CCNet
                         LM-filter apply side)
  * bpe_pair_counts / bpe_train — distributed BPE tokenizer induction
                         over the word-frequency table (corpus pass
                         happens once; training runs over |vocab|)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from kgx import cache

# tiny deterministic stopword list (quality + lang heuristics)
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "that")

# BPE-ish token estimator: words + digit runs + punctuation runs; a cheap,
# deterministic stand-in for a real tokenizer's piece count
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace).

    Known shared edge: empty/whitespace-only text yields [''] — ONE
    phantom token — because split-on-regex returns a single empty field.
    DuckDB's regexp_split_to_array does exactly the same, so every oracle
    row matches bit-for-bit including this edge; it is the documented
    cross-engine contract, not a bug in one side. Filter empty docs
    upstream if n_tokens=0 semantics are required."""
    return F.split(F.trim(col), r"\s+")


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return df.withColumn("n_tokens", F.size(tokens(c))).withColumn(
        "n_bpe_pieces", F.regexp_count(c, F.lit(_BPE_RE))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length + stopword-ratio quality heuristics. Emits integer counts and
    a single-division double ratio (deterministic across engines)."""
    c = F.col(text_col)
    toks = tokens(c)
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    n_punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    return (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("n_stopwords", n_stop)
        .withColumn("n_punct", n_punct)
        .withColumn(
            "stopword_ratio",
            F.when(n_tokens > 0, n_stop.cast("double") / n_tokens.cast("double")),
        )
        .withColumn(
            "quality_flag",
            F.when((n_tokens >= 5) & (n_stop > 0), F.lit("ok")).otherwise(F.lit("low")),
        )
    )


# marker tokens per language — a deterministic unigram language model;
# production swaps in fastText/cld3 behind the same column contract
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "nicht"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
}


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pick the language with the most marker-token hits; ties (two or more
    languages sharing the max hit count) and zero hits resolve to 'und'
    (deterministic)."""
    toks = tokens(F.lower(F.col(text_col)))
    hit_cols = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        hit_cols.append(
            F.struct(
                F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    cands = F.array(*hit_cols)
    best = F.array_max(cands)
    n_best = F.size(F.filter(cands, lambda c: c["hits"] == best["hits"]))
    return df.withColumn(
        "lang_pred",
        F.when((best["hits"] > 0) & (n_best == 1), best["lang"]).otherwise(
            F.lit("und")
        ),
    )


def top_tokens(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Corpus vocabulary head: exact top-k tokens by document frequency and
    total count, deterministic tie-break (count desc, token asc). The
    training-data-pipeline staple behind stopword lists, boilerplate
    detection and the dedup DF caps.

    Scale shape: explode → two-level agg on the token key (map-side
    partial combine bounds the shuffle to |vocab| per partition); the
    top-k is a single ORDER BY LIMIT over |vocab| rows, never over the
    corpus."""
    tok = df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"))
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), F.col("tok").asc()))
            .cast("bigint"),
        )
    )


def vocab_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary statistics: distinct tokens, hapax legomena
    (tokens occurring exactly once), total token count, type-token ratio —
    one exact aggregation pass over the exploded tokens."""
    tok = df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"))
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    return counts.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("bigint").alias("n_hapax"),
        F.sum("n").cast("bigint").alias("n_tokens"),
        (F.count(F.lit(1)).cast("double") / F.sum("n").cast("double")).alias(
            "type_token_ratio"
        ),
    )


def repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    duplicate-word fraction and the fraction of word positions covered by
    the single most frequent word bigram. High values flag boilerplate /
    degenerate generations for training-data filtering.

    Entirely IN-ROW (higher-order functions over the token array — sort
    the bigram array and fold a max-run-length accumulator), so the
    operator is map-only: zero shuffle at any corpus size, unlike the
    naive explode→groupBy(doc, bigram) shape whose shuffle carries one
    row per bigram occurrence. Ratios are single exact-integer divisions
    (cross-engine deterministic)."""
    toks = tokens(F.lower(F.col(text_col)))
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    bigrams = F.transform(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        lambda w, i: F.concat_ws(" ", w, F.get(toks, i + 1)),
    )
    run = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return (
        df.withColumn("n_words", n.cast("bigint"))
        .withColumn(
            "dup_word_frac",
            F.when(n > 0, (n - n_distinct).cast("double") / n.cast("double")),
        )
        .withColumn("top_bigram_count", run.cast("bigint"))
        .withColumn(
            "top_bigram_frac",
            F.when(n > 1, run.cast("double") / (n - 1).cast("double")),
        )
    )


def tfidf_topk(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Per-document top-k terms by TF-IDF — the keyword-extraction /
    boilerplate-vs-content signal a curation pipeline ranks documents by.

    IDF is the RATIONAL variant n_docs/df (no log), so the score stays one
    exact integer product + one IEEE division — bit-reproducible across
    engines (ln's last-ulp behavior is engine-specific; see the HLL
    docstring for the same policy). NOTE this is a deliberate scoring
    variant, not a reparameterization: ln is monotone, so rankings agree
    with classic tf*ln(N/df) for fixed tf, but across different tf values
    the rational form weights rarity more strongly (tf=1,N/df=100 outranks
    tf=10,N/df=2). Callers wanting the classic score re-rank driver-side
    from the emitted exact (tf, doc_freq, n_docs) columns. Ties: token
    ascending.

    Scale shape: explode → (doc, token) count (map-side combine), token-
    keyed DF agg over |vocab| rows broadcast back onto the TF rows, per-doc
    window over <=|doc vocab| rows. The corpus text never shuffles — only
    slim (doc, token, tf) rows."""
    from pyspark.sql.functions import broadcast

    tok = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    )
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).cast("bigint").alias("n_docs")
    )
    scored = (
        tf.join(broadcast(dfreq), "token")
        .join(broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("tf") * F.col("n_docs")).cast("double")
            / F.col("doc_freq").cast("double"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(id_col, "token", "tf", "doc_freq", "n_docs", "tfidf", "rank")
    )


def unigram_likelihood(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean unigram corpus probability — the log-free stand-in
    for the CCNet/KenLM perplexity filter: documents made of corpus-typical
    tokens score high, token-salad scores low.

    score = (sum over token positions of corpus_count(token)) /
            (n_tokens * total_tokens)
    The numerator is an exact integer sum (order-independent across
    partitions, unlike a float sum), the denominator an exact integer
    product, the score ONE IEEE division — bit-reproducible cross-engine.

    Scale shape: explode → (doc, token) tf rows, token-keyed corpus counts
    broadcast onto them, one integer agg per doc. Corpus text never
    shuffles."""
    from pyspark.sql.functions import broadcast

    tok = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    )
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    corpus = tf.groupBy("token").agg(F.sum("tf").alias("corpus_cnt"))
    total = corpus.select(F.sum("corpus_cnt").cast("bigint").alias("total_tokens"))
    per_doc = (
        tf.join(broadcast(corpus), "token")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("corpus_cnt")).cast("bigint").alias("lik_num"),
        )
    )
    return per_doc.join(broadcast(total)).select(
        id_col,
        "n_tokens",
        "lik_num",
        (F.col("n_tokens") * F.col("total_tokens")).cast("bigint").alias("lik_den"),
        (
            F.col("lik_num").cast("double")
            / (F.col("n_tokens") * F.col("total_tokens")).cast("double")
        ).alias("unigram_likelihood"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprints: md5 over whitespace-normalized lowercase text
    (exact-dup key) and over the sorted distinct token set (bag key —
    robust to reordering)."""
    c = F.col(text_col)
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    bag = F.array_join(F.array_sort(F.array_distinct(tokens(F.lower(c)))), " ")
    return df.withColumn("fp_exact", F.md5(norm)).withColumn("fp_bag", F.md5(bag))


def bm25(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document to each query term (Robertson &
    Walker's Okapi BM25 — public method), top-k docs per term.

    Bit-reproducibility policy (same as tfidf_topk / the HLL sketch): the
    IDF is the RATIONAL Robertson form WITHOUT the log,
        idf = (N - df + 0.5) / (df + 0.5),
    so the whole score is exact-integer inputs flowing through a FIXED
    sequence of IEEE double ops:
        score = idf * ((tf * (k1+1)) / (tf + k1 * ((1-b) + b * (dl/avgdl))))
    with every parenthesis explicit — a SQL oracle evaluating the same
    parse tree reproduces each double bit-for-bit. Per-term rankings are
    IDENTICAL to Lucene's BM25 (idf = ln(1 + (N-df+0.5)/(df+0.5)) — an
    always-positive monotone transform of the rational form, so ordering
    within a term is preserved). Note the RAW Robertson ln((N-df+.5)/
    (df+.5)) goes negative for df > N/2 and would reverse per-term order
    — the well-known quirk production systems clamp away, which the
    log-free form avoids by construction. avgdl = total_tokens/N is one
    division of exact integers.

    Emitted per (term, doc): tf, dl, doc_freq, n_docs, score, rank — NOT a
    summed multi-term score: a float sum over terms is order-dependent,
    and rank-per-term is what a retrieval-style curation filter consumes.

    Scale shape: one explode → (doc, token) count with map-side combine,
    filtered to the |query_terms| tokens BEFORE any join (the tf frame the
    join sees is |terms| * |matching docs|, not |corpus vocab|); df/dl/N
    are broadcast scalars/dims. Corpus text never shuffles."""
    from pyspark.sql.functions import broadcast

    terms = [t.lower() for t in query_terms]
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    )
    # dl in-row (size of the token array): map-only — the naive
    # explode→groupBy(doc) shape shuffles one row per TOKEN of the corpus
    # for what is a per-row scalar
    dl = df.select(
        F.col(id_col),
        F.size(tokens(F.lower(F.col(text_col)))).cast("bigint").alias("dl"),
    )
    tf = (
        tok.where(F.col("token").isin(terms))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_freq")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_tokens"),
    )
    k1c, bc = F.lit(float(k1)), F.lit(float(b))
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
    idf = (
        (F.col("n_docs") - F.col("doc_freq")).cast("double") + F.lit(0.5)
    ) / (F.col("doc_freq").cast("double") + F.lit(0.5))
    norm = k1c * (
        (F.lit(1.0) - bc) + bc * (F.col("dl").cast("double") / avgdl)
    )
    score = idf * (
        (F.col("tf").cast("double") * (k1c + F.lit(1.0)))
        / (F.col("tf").cast("double") + norm)
    )
    scored = (
        tf.join(dl, id_col)
        .join(broadcast(dfreq), "token")
        .join(broadcast(stats))
        .withColumn("score", score)
    )
    w = Window.partitionBy("token").orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("token", id_col, "tf", "dl", "doc_freq", "n_docs", "score", "rank")
    )


def ngram_lm(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 3,
) -> DataFrame:
    """Corpus bigram language-model counts with min-count pruning — the
    count-collection stage of an n-gram LM build (Brants et al. 2007,
    "Large Language Models in Machine Translation" — the classic
    MapReduce n-gram pipeline, public method).

    Emits one row per surviving bigram:
      (w1, w2, cnt, head_cnt, cond_p)
    where head_cnt = total bigram occurrences with first word w1 (the LM
    denominator) and cond_p = cnt/head_cnt — exact integers plus ONE IEEE
    division, bit-reproducible cross-engine. Pruning (cnt >= min_count)
    happens BEFORE the emit but AFTER head_cnt aggregation, so surviving
    rows carry the unpruned denominator (the correct MLE conditional).

    Scale shape: bigrams are generated in-row (zip of the token array with
    its own tail — no self-join), counted with map-side combine on slim
    (w1, w2) keys, and head counts are a second partial-agg rollup of the
    bigram counts themselves (never a rescan of the corpus). Text never
    shuffles. At the 100 TB point this is the canonical two-groupBy count
    pipeline; min_count pruning is what keeps the emitted table (and any
    downstream join) Zipf-truncated."""
    toked = df.select(tokens(F.lower(F.col(text_col))).alias("toks"))
    m = F.size(F.col("toks")) - F.lit(1)
    bigrams = F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.struct(
                F.element_at(F.col("toks"), i).alias("w1"),
                F.element_at(F.col("toks"), i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array())
    bg = toked.select(F.explode(bigrams).alias("bg")).select("bg.w1", "bg.w2")
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # head counts via a window over the COUNTED rows, not a groupBy+join
    # back onto cnt — the join form evaluates the bigram explode+count
    # twice (once per side); the window re-shuffles only the slim
    # (w1, w2, cnt) vocabulary rows
    head_cnt = F.sum("cnt").over(Window.partitionBy("w1")).cast("bigint")
    return (
        cnt.withColumn("head_cnt", head_cnt)
        .where(F.col("cnt") >= min_count)
        .select(
            "w1",
            "w2",
            "cnt",
            "head_cnt",
            (F.col("cnt").cast("double") / F.col("head_cnt").cast("double")).alias(
                "cond_p"
            ),
        )
    )


def lm_score(
    df: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents against a bigram LM (the apply side of ngram_lm —
    together they form the CCNet-style LM quality filter: train counts on
    a reference corpus, score candidate docs, keep the head).

    Per document: mean conditional probability over its bigram positions,
    with out-of-vocabulary bigrams (pruned or unseen) contributing 0 and
    counted separately:
      (doc_id, n_bigrams, n_oov, lm_score)
    lm_score is NULL for docs with < 2 tokens (no bigrams).

    Bit-reproducibility: the per-doc probability sum is a LEFT FOLD in
    BIGRAM POSITION ORDER (collect_list is unordered across partitions,
    so the (pos, p) pairs are sort_array'd before folding) — the same
    IEEE order a SQL oracle reproduces; the mean is one division.

    Scale shape: the LM is min-count pruned (Zipf-truncated) → broadcast;
    the corpus explodes to slim (doc, pos, w1, w2) rows, one broadcast
    join, one keyed agg whose state is the doc's bigram list (bounded by
    doc length). Text never shuffles."""
    from pyspark.sql.functions import broadcast

    toked = df.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("toks")
    )
    m = F.size(F.col("toks")) - F.lit(1)
    bg = F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.struct(
                i.alias("pos"),
                F.element_at(F.col("toks"), i).alias("w1"),
                F.element_at(F.col("toks"), i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array())
    pos_rows = toked.select(F.col(id_col), F.explode(bg).alias("b")).select(
        id_col, "b.pos", "b.w1", "b.w2"
    )
    scored = pos_rows.join(
        broadcast(lm.select("w1", "w2", "cond_p")), ["w1", "w2"], "left"
    )
    folded = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum(F.when(F.col("cond_p").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("pos"), F.coalesce("cond_p", F.lit(0.0)).alias("p"))
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["p"],
        ).alias("p_sum"),
    )
    out = df.select(F.col(id_col)).join(folded, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
        (F.col("p_sum") / F.col("n_bigrams").cast("double")).alias("lm_score"),
    )
    return out


def _apply_merges(chars: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply BPE merges IN ORDER to a symbol array, each as a greedy
    left-to-right fold (the classic merge semantics: [a,a,a] under (a,a)
    becomes [aa, a]). Loop-form expression per merge — bounded depth
    |merges|, never an unrolled cross product (the PQ codegen lesson)."""
    def step(a: str, b: str):
        merged = a + b

        def fold(acc, x):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        return fold

    out = chars
    for a, b in merges:
        out = F.aggregate(out, F.array().cast("array<string>"), step(a, b))
    return out


def bpe_pair_counts(
    word_freq: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    word_col: str = "word",
    freq_col: str = "freq",
) -> DataFrame:
    """One BPE-training iteration's pair statistics (Sennrich et al.
    2016, "Neural Machine Translation of Rare Words with Subword Units"
    — public method): adjacent-symbol pair counts over the word-frequency
    table, weighted by word frequency, AFTER applying the merges learned
    so far. Returns (sym_a, sym_b, cnt) — argmax(cnt) is the next merge.

    Scale shape: BPE training runs over the |vocab|-row word-frequency
    table, not the corpus (the corpus collapses to (word, freq) once);
    symbol splitting and merge application are in-row array ops, and the
    pair count is one groupBy with map-side combine on slim
    (sym_a, sym_b) keys. This is what makes tokenizer induction feasible
    on-cluster at any corpus size — the expensive corpus pass happens
    exactly once."""
    chars = F.split(F.col(word_col), "")
    syms = _apply_merges(chars, merges or [])
    w = word_freq.select(F.col(freq_col).alias("freq"), syms.alias("syms"))
    m = F.size(F.col("syms")) - F.lit(1)
    pairs = F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.struct(
                F.element_at(F.col("syms"), i).alias("sym_a"),
                F.element_at(F.col("syms"), i + F.lit(1)).alias("sym_b"),
            ),
        ),
    ).otherwise(F.array())
    return (
        w.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.sym_a").alias("sym_a"), F.col("p.sym_b").alias("sym_b"))
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )


def bpe_train(
    word_freq: DataFrame,
    n_merges: int,
    word_col: str = "word",
    freq_col: str = "freq",
    batch_k: int = 1,
    stats: dict | None = None,
) -> list[tuple[str, str]]:
    """Learn n_merges BPE merges. batch_k=1 (default) is EXACT sequential
    greedy (Sennrich et al. 2016): one pair recount per merge, most
    frequent pair first, lexicographic tie-break — but that is one Spark
    job per merge, O(n_merges) full-vocabulary passes: fine at tens of
    merges, 30k jobs for a production 30k-merge tokenizer.

    batch_k>1 is the SCALE PATH: BATCHED-GREEDY selection, ~ceil(
    n_merges / batch_k) recount jobs — bounded below by the DISJOINT
    CANDIDATE SUPPLY per pass, not just batch_k: accepted merges must be
    pairwise symbol-disjoint (see rule below), so a 26-letter alphabet
    admits at most 13 first-pass merges under ANY disjoint-batch rule;
    measured 6 jobs for 64 merges at batch_k=16 on natural text, 10.7x
    fewer than sequential, and the supply grows with the symbol inventory
    so the amortized rate approaches batch_k at production vocabulary
    sizes. Per job, the top 4*batch_k candidates are walked in greedy
    order (cnt desc,
    lexicographic tie-break) and up to batch_k are accepted, SKIPPING any
    candidate that (a) shares a symbol with a merge already accepted this
    batch (overlapping occurrences — its count may shrink while the batch
    applies) or (b) whose merged output string equals an existing merge
    output (the one case where applying a merge can INCREASE another
    pair's count — single chars are length-1, so prior outputs are the
    only possible collisions). If everything in the window conflicts, the
    top candidate alone is accepted (that IS the greedy pick).

    HONEST CONTRACT — batched-greedy is a documented VARIANT, not always
    equal to sequential greedy: disjoint-symbol merges neither create nor
    destroy each other's occurrences, so the accepted batch members'
    counts are mutually stable, but sequential greedy can interleave a
    CHAINED merge (one consuming a symbol created earlier in the same
    batch, e.g. (t,h) then (th,e)) before the batch's later members when
    the chained pair's count is high enough. Batched training defers such
    chains to the next recount. This is the standard throughput trade of
    batched tokenizer induction; both modes are deterministic and
    parallelism-independent, batch_k=1 reproduces the textbook trainer
    exactly (differential-tested at 64 merges against a pure-Python
    sequential trainer), and batch_k>1 is differential-tested against a
    pure-Python twin of this exact rule.

    The metric that matters for a tokenizer is COMPRESSION, not merge-
    list identity — measured on the sf0.001 corpus at 64 merges, batched
    training costs: batch_k=8 -> 9 recount jobs (7.1x fewer than
    sequential) at +0.01% tokens vs the sequential merge list;
    batch_k=16 -> 6 jobs (10.7x) at +2.1% tokens. batch_k=8 is the
    recommended scale default; the compression deltas are pinned by
    tests/test_round5.py.

    Driver state is the merge list (tiny by construction — the same
    collect contract as similarity.kmeans_centroids)."""
    merges: list[tuple[str, str]] = []
    outputs: set[str] = set()
    jobs = 0
    while len(merges) < n_merges:
        k = min(batch_k, n_merges - len(merges))
        window = 4 * k if k > 1 else 1
        rows = (
            bpe_pair_counts(word_freq, merges, word_col, freq_col)
            .orderBy(F.col("cnt").desc(), F.col("sym_a").asc(), F.col("sym_b").asc())
            .limit(window)
            .collect()
        )
        jobs += 1
        if not rows:
            break
        used: set[str] = set()
        accepted: list[tuple[str, str]] = []
        for r in rows:
            if len(accepted) == k:
                break
            a, b = r["sym_a"], r["sym_b"]
            if a in used or b in used or (a + b) in used or (a + b) in outputs:
                continue
            accepted.append((a, b))
            used.update((a, b, a + b))
        if not accepted:
            accepted = [(rows[0]["sym_a"], rows[0]["sym_b"])]
        for a, b in accepted:
            merges.append((a, b))
            outputs.add(a + b)
    if stats is not None:
        stats["recount_jobs"] = jobs
    return merges


def mlm_mask(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mask_pct: int = 15,
) -> DataFrame:
    """BERT-style MLM example generation (Devlin et al. 2018 §3.1): select
    `mask_pct`% of whitespace tokens, then the 80/10/10 action split —
    80% replaced by [MASK], 10% by a random vocabulary token, 10% kept —
    emitted LONG-format as (id, tok_idx, original, action, model_input),
    the per-position label/input pairs an MLM trainer consumes.

    Every draw is hash arithmetic, not RNG: selection is
    md5_60bit(id:idx) mod 100 < mask_pct, the action split is a second
    salted draw mod 10, and the random replacement is rank-picked from
    the corpus vocabulary by a third draw — the same rank-indexed-dim
    recipe as graph.negative_samples, so the corpus is identical
    run-to-run and engine-to-engine and a SQL oracle reproduces it
    bit-for-bit.

    Shuffle shape at 10^10 tokens: the token explode and both extra
    draws are map-side; the vocabulary dim is one distinct-shuffle +
    one O(|vocab|) single-partition rank window (dimension-sized, same
    caveat as negative_samples), persisted so its count and the
    replacement join share one derivation, and broadcast to that join,
    which only the ~1.5% random-action rows enter. Unselected positions
    never leave the map stage.
    """
    from kgx.dedup import md5_hash60

    ex = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("tok_idx", "original"),
    )
    ranks = cache.persist(
        ex.select(F.col("original").alias("vtok"))
        .distinct()
        .select("vtok", F.row_number().over(Window.orderBy("vtok")).alias("rnk"))
    )
    n = ranks.agg(F.count("*").alias("n_vocab"))
    key = F.concat_ws(":", F.col("id"), F.col("tok_idx").cast("string"))
    sel = (
        ex.where(md5_hash60(key) % 100 < mask_pct)
        .crossJoin(F.broadcast(n))
        .withColumn("draw2", md5_hash60(F.concat_ws(":", key, F.lit("a"))) % 10)
        .withColumn(
            "action",
            F.when(F.col("draw2") < 8, F.lit("mask"))
            .when(F.col("draw2") == 8, F.lit("random"))
            .otherwise(F.lit("keep")),
        )
        .withColumn(
            "rnk",
            F.when(
                F.col("action") == "random",
                (
                    md5_hash60(F.concat_ws(":", key, F.lit("r"))) % F.col("n_vocab")
                    + 1
                ).cast("int"),
            ),
        )
    )
    return sel.join(F.broadcast(ranks), "rnk", "left").select(
        "id",
        "tok_idx",
        "original",
        "action",
        F.when(F.col("action") == "mask", F.lit("[MASK]"))
        .when(F.col("action") == "random", F.col("vtok"))
        .otherwise(F.col("original"))
        .alias("model_input"),
    )


def span_corruption(
    docs: DataFrame,
    mask_pct: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020): mask ~mask_pct% of
    a document's tokens, collapse each masked RUN to one `<extra_id_k>`
    sentinel in the input, and emit the masked spans (each prefixed by
    its sentinel) as the target — the denoising pretraining pair shape.

    Every mask decision is md5 rank arithmetic over (doc, token position)
    — no RNG — so the corpus is reproducible run-to-run and a SQL oracle
    derives the identical examples. Run/sentinel structure comes from two
    window functions over the per-document token order (lag for run
    starts, running sum for sentinel ids — one exchange, both windows
    share the (doc) partitioning), then ONE groupBy(doc) reassembles
    input and target via conditional collect_list (NULL pieces drop out).
    State per document is bounded by its own token count; nothing global.

    Returns (id, input_text, target_text, n_spans, n_masked).
    """
    from kgx.dedup import md5_hash60

    tok = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    ).withColumn(
        "masked",
        (
            md5_hash60(
                F.concat_ws(
                    ":",
                    F.col(id_col).cast("string"),
                    F.col("pos").cast("string"),
                    F.lit("sc"),
                )
            )
            % 100
            < mask_pct
        ),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = tok.withColumn(
        "is_start",
        F.col("masked") & ~F.coalesce(F.lag("masked").over(w), F.lit(False)),
    ).withColumn(
        "sid", F.sum(F.col("is_start").cast("int")).over(w) - F.lit(1)
    )
    sentinel = F.concat(F.lit("<extra_id_"), F.col("sid"), F.lit(">"))
    in_piece = (
        F.when(~F.col("masked"), F.col("tok"))
        .when(F.col("is_start"), sentinel)
    )
    tgt_piece = F.when(
        F.col("masked"),
        F.when(F.col("is_start"), F.concat(sentinel, F.lit(" "), F.col("tok")))
        .otherwise(F.col("tok")),
    )

    def _join(piece):
        return F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(piece.isNotNull(), F.struct(F.col("pos"), piece.alias("p")))
                    )
                ),
                lambda x: x["p"],
            ),
            " ",
        )

    return runs.groupBy(id_col).agg(
        _join(in_piece).alias("input_text"),
        _join(tgt_piece).alias("target_text"),
        (F.max("sid") + 1).cast("int").alias("n_spans"),
        F.sum(F.col("masked").cast("int")).alias("n_masked"),
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise-mutual-information collocations (Church & Hanks 1990)
    over adjacent token bigrams — the phrase-mining pass that promotes
    multi-word surface forms ("new york", "machine learning") into KG
    node candidates and tokenizer merge seeds. Distinct from
    text_bpe_pairs (raw adjacent-pair frequency for merge selection):
    PMI normalizes each pair by BOTH unigram margins, so it ranks
    association strength, not frequency.

    Engine-exact contract: emits the PMI *lift* (the log's argument —
    log is monotone, so ranking and thresholding are identical and the
    value stays one exact integer ratio + one IEEE division):

      lift(w1,w2) = P(w1,w2) / (P(w1)P(w2))
                  = (c12 * T_uni^2) / (T_big * c1 * c2)

    with c12 the bigram count over all in-doc adjacent pairs, c1/c2
    unigram counts, T_uni total tokens, T_big total bigrams. The
    numerator/denominator products stay in BIGINT up to corpora of a few
    billion tokens (c12*T_uni^2 < 2^63); past that, widen to
    DECIMAL(38,0) on both engines.

    Shape: bigrams are built map-only in-row (transform over the token
    array — no positional self-join, no shuffle to form pairs); then one
    (w1,w2) count groupBy with map-side partials, two margin joins keyed
    on the token (shuffle joins — the vocabulary is corpus-sized at web
    scale; AQE broadcasts them when small), and the two scalar totals
    ride in as broadcast single-row frames. The bigram count frame is
    persisted once and feeds both T_big and the output.
    """
    base = docs.select(tokens(F.lower(F.col(text_col))).alias("toks"))
    uni = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    t_uni = uni.agg(F.sum("c").cast("long").alias("t_uni"))
    bc = cache.persist(
        base.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks)-1),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_count"))
    )
    t_big = bc.agg(F.sum("pair_count").cast("long").alias("t_big"))
    return (
        bc.where(F.col("pair_count") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(t_uni))
        .crossJoin(F.broadcast(t_big))
        .select(
            "w1",
            "w2",
            "pair_count",
            "c1",
            "c2",
            F.expr(
                "CAST(pair_count * t_uni * t_uni AS DOUBLE)"
                " / CAST(t_big * c1 * c2 AS DOUBLE)"
            ).alias("pmi_lift"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): from every sliding window of `w`
    consecutive token-k-gram hashes, select the window MINIMUM; the
    distinct selected hashes are the document's fingerprint set. The
    guarantee that makes this the standard local fingerprinting scheme:
    any shared substring of at least w+k-1 tokens between two documents
    yields at least one shared fingerprint, while storage shrinks by
    ~2/(w+1) versus keeping every k-gram. Complements the existing
    fingerprint family: fp_exact/fp_bag (textops.fingerprint) are
    whole-document keys, text_dup_substring keeps EVERY positional
    shingle — winnowing is the tunable middle (near-dup candidate keys
    with substring-level guarantees at a fraction of the index size).

    Engine-exact contract (no randomness; min is the selection rule —
    the paper's rightmost-tie refinement is unnecessary because we emit
    the distinct hash SET, which tie choice cannot change):
      grams_i = tokens[i..i+k-1] joined by ' ',  i = 0..n_tok-k
      h_i     = md5_hash60(grams_i)              (cross-engine md5)
      window_j = min(h_j..h_{j+w-1}),            j = 0..max(n_gram-w, 0)
      output  = DISTINCT (id, fp) over all window minima
    Documents with fewer than k tokens emit no rows (no k-gram exists);
    documents with 1..w-1 k-grams emit the min over what exists (one
    short window), matching the SQL oracle's frame-clipped ROWS window.

    Shape: the operator is MAP-ONLY, zero exchanges — k-grams, hashes,
    window minima, and the per-doc distinct set are all computed in-row
    with transform/slice over the token array (no positional self-join,
    no per-token shuffle; contrast text_dup_substring which must explode
    because its consumers need cross-document positions). (id, fp) rows
    are unique by construction (array_distinct before the explode), so
    no global DISTINCT is needed. Per-row cost is O(n_gram * w)
    comparisons inside codegen; for the default w=5 that is cheaper
    than materializing a sort-based alternative.
    """
    toks = tokens(F.lower(F.col(text_col)))
    grams = F.expr(
        f"transform(sequence(0, size(toks) - {k}),"
        f" i -> array_join(slice(toks, i + 1, {k}), ' '))"
    )
    hashes = F.expr(
        "transform(grams,"
        " g -> CAST(conv(substring(md5(g), 1, 15), 16, 10) AS LONG))"
    )
    mins = F.expr(
        f"transform(sequence(0, greatest(size(hs) - {w}, 0)),"
        f" j -> array_min(slice(hs, j + 1, {w})))"
    )
    return (
        df.select(F.col(id_col), toks.alias("toks"))
        .where(F.size("toks") >= k)
        .select(F.col(id_col), grams.alias("grams"))
        .select(F.col(id_col), hashes.alias("hs"))
        .select(F.col(id_col), F.explode(F.array_distinct(mins)).alias("fp"))
    )


def rake_keywords(
    docs: DataFrame,
    text_col: str = "text",
    stopwords: tuple[str, ...] = EN_STOPWORDS,
) -> DataFrame:
    """RAKE keyword scores (Rose, Engel, Cramer & Cowley 2010 — Rapid
    Automatic Keyword Extraction): split each document's token stream
    into candidate phrases at stopword boundaries, then score every
    content word by its co-occurrence degree over frequency:

      freq(w)  = number of occurrences of w inside candidate phrases
      deg(w)   = Σ over those occurrences of the containing phrase's
                 word length (with multiplicity — each occurrence of w
                 contributes its phrase's full length, the paper's
                 deg = freq + co-occurrence count)
      score(w) = deg(w) / freq(w)   (favors words living in long
                 multi-word phrases — the phrase-mining signal PMI
                 ranks by association instead)

    freq and deg are exact integers in any engine and any aggregation
    order; score is ONE final IEEE division, so a SQL oracle matches
    bit-for-bit.

    Shape: phrase segmentation is MAP-ONLY — one regexp_replace turns
    stopword occurrences into '|' delimiters, split + trim + filter
    builds per-phrase word arrays in-row; the only exchange is the final
    per-word groupBy with map-side partial sums. Text never shuffles
    (only exploded (word, phrase_len) pairs do). Stopword list is a
    literal alternation compiled into the scan expression — at any vocab
    size it is a regex, never a join."""
    pat = r"\b(" + "|".join(stopwords) + r")\b"
    phrased = F.regexp_replace(F.lower(F.trim(F.col(text_col))), pat, "|")
    pairs = (
        docs.select(F.explode(F.split(phrased, r"\|")).alias("p"))
        .select(F.trim(F.col("p")).alias("p"))
        .where(F.col("p") != "")
        .select(F.split(F.col("p"), r"\s+").alias("ws"))
        .select(F.explode("ws").alias("word"), F.size("ws").alias("pl"))
    )
    return pairs.groupBy("word").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("pl").cast("long").alias("deg"),
        (F.sum("pl").cast("double") / F.count("*").cast("double")).alias(
            "rake_score"
        ),
    )


def bpe_encode(
    words: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
) -> DataFrame:
    """Encode each word with a FIXED merge list — the inference half of
    the BPE tokenizer (Sennrich et al. 2016) whose training half is
    bpe_train: characters split in-row, every merge applied IN ORDER as a
    greedy left-to-right fold (_apply_merges, the same expression the
    trainer's pair statistics use — trainer and encoder cannot drift).

    Returns the input columns plus n_chars / n_pieces / `encoded` (the
    space-joined symbol sequence). Everything is an in-row array
    expression — map-only, zero shuffles, whatever partitioning the
    vocabulary table arrives with. Encoding runs over the |vocab|-row
    word table, never the corpus: join the result back to token streams
    by word to tokenize a corpus (the once-per-word contract that makes
    subword tokenization feasible at 100 TB).
    """
    syms = _apply_merges(F.split(F.col(word_col), ""), merges)
    return words.select(
        "*",
        F.length(word_col).cast("int").alias("n_chars"),
        F.size(syms).cast("int").alias("n_pieces"),
        F.array_join(syms, " ").alias("encoded"),
    )
