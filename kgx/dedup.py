"""Deduplication operators for training-data pipelines, Spark-first.

All variants follow the same shape: derive a *blocking key* that is cheap
and shuffle-friendly, join/group only within blocks, and verify candidates
with an exact measure. At 100 TB the blocking step is the whole game — the
pairwise step must never see the full cross product.

  * exact_dedup           — md5(normalized text) groupBy; one shuffle on a
                            short hash key (never on the text itself)
  * ngram_jaccard_pairs   — n-token shingles → inverted index → candidate
                            pairs sharing a shingle → exact Jaccard filter
  * minhash_lsh_pairs     — MinHash signatures (k permutations, JVM-side
                            xxhash64) → banded LSH buckets → candidates →
                            exact Jaccard verify
  * simhash               — 64-bit SimHash fingerprint + banded candidates
  * embedding_neardup     — cosine near-duplicates over an embedding column
                            via random-hyperplane LSH buckets
  * semdedup              — SemDeDup (Abbas et al. 2023): k-means cell
                            blocking, within-cell cosine, min-id keeper
  * dup_substring_coverage — per-doc fraction of tokens covered by n-gram
                            shingles that also occur in another document
                            (the exact-substring dedup signal of Lee et
                            al. 2022, shingle-granular)

Everything is DataFrame expressions (codegen); no Python in the hot path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from kgx import cache
from kgx.textops import tokens

_P = 2147483647  # 2^31 - 1, Mersenne prime: (a*h+b) stays < 2^62 (no ANSI overflow)


def _norm_text(c: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def md5_hash60(c: Column) -> Column:
    """Cross-engine 60-bit hash: first 15 hex chars of md5 as a long.

    xxhash64 is Spark-only; md5 exists in both Spark and DuckDB, and 15 hex
    chars (60 bits) always fit a signed 64-bit int, so SimHash/MinHash built
    on this hash are exactly reproducible by a SQL oracle
    (DuckDB: CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) docs; keeper = min id.
    Returns (keep_id, dup_id) rows for dup_id != keep_id.

    Shape: min(id) per hash, then join the id rows back — bounded reducer
    state per group even on a degenerate corpus (billions of identical
    docs), unlike a collect_list that materializes one giant array in a
    single reducer. Both the agg and the join shuffle only (id, 32-byte
    hash) rows; the text never moves."""
    h = df.select(F.col(id_col), F.md5(_norm_text(F.col(text_col))).alias("h"))
    keep = h.groupBy("h").agg(F.min(id_col).alias("keep_id"))
    return (
        h.join(keep, "h")
        .filter(F.col(id_col) != F.col("keep_id"))
        .select("keep_id", F.col(id_col).alias("dup_id"))
    )


def shingles_from_tokens(toks: Column, n: int = 5) -> Column:
    """n-token shingles as array<string> (distinct), from a token array.

    IMPORTANT: `toks` must reference an already-projected column (e.g.
    `F.col("toks")`), never an inline `split(...)` expression — expressions
    referenced inside the transform lambda are re-evaluated once per shingle
    position, turning tokenization O(len) into O(len^2) (measured 8x on the
    sf0.1 corpus)."""
    k = F.size(toks) - F.lit(n - 1)
    return F.when(
        k > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))


def shingles(c: Column, n: int = 5) -> Column:
    """n-token shingles of lowercase text (convenience; see the note on
    shingles_from_tokens — prefer projecting tokens first in hot paths)."""
    return shingles_from_tokens(tokens(F.lower(c)), n)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a < b) with sim >= threshold.

    Inverted-index blocking: only pairs sharing >=1 shingle are scored —
    |pairs| is bounded by shingle collision, not |docs|^2.

    max_df is the hot-shingle document-frequency cap: a shingle occurring
    in more than max_df docs (boilerplate — a 5-gram shared by 10^6 docs
    would alone emit ~10^12 candidate rows from the self-join) is dropped
    from the CANDIDATE index before the self-join; candidate pairs are then
    verified against the FULL shingle arrays, so every emitted pair still
    carries its exact Jaccard. Only pairs whose overlap is exclusively
    boilerplate shingles are skipped (at a sane cap such pairs sit far
    below any useful threshold anyway). The hot set is Zipf-tiny by
    construction, so the filter is a broadcast anti-join.
    """
    # CPU-heavy shingling spread across cores regardless of file layout
    npart = df.sparkSession.sparkContext.defaultParallelism
    # token arrays MATERIALIZED (persist) before shingling: ProjectCollapse
    # otherwise inlines tokens() into the shingle transform lambda, where
    # outer expressions re-evaluate once per shingle position — O(len^2)
    # tokenization (measured 4s of the 5s ngram wall at sf0.1)
    tok = cache.persist(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
        .repartition(npart, "id")
        .select("id", tokens(F.lower(F.col("txt"))).alias("toks"))
    )
    sh = tok.select(
        "id", shingles_from_tokens(F.col("toks"), n).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    # persist the inverted index: without a barrier Catalyst inlines the
    # tokenize+shingle expression tree into BOTH sides of the self-join
    # (26 split() occurrences in the physical plan; 3x wall time measured).
    # MEMORY_AND_DISK, ~one row per (doc, distinct shingle) — the same
    # footprint the join shuffle moves anyway.
    inv = cache.persist(sh.select("id", "n_sh", F.explode("sh").alias("s")))
    # Size-ratio prefilter (exact): J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    # J >= t requires t*|B| <= |A| and t*|A| <= |B|. Prunes candidate rows
    # at the join before the per-pair aggregation ever sees them.
    t = F.lit(float(threshold))

    def _pair_join(index: DataFrame):
        a, b = index.alias("a"), index.alias("b")
        return a.join(
            b,
            on=[
                F.col("a.s") == F.col("b.s"),
                F.col("a.id") < F.col("b.id"),
                F.col("a.n_sh") >= t * F.col("b.n_sh"),
                F.col("b.n_sh") >= t * F.col("a.n_sh"),
            ],
        )

    def _agg_path(index: DataFrame) -> DataFrame:
        # complete index → the per-pair match count IS the intersection size
        inter = _pair_join(index).groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        ).agg(F.count(F.lit(1)).alias("inter"))
        return (
            inter.withColumn(
                "jaccard",
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    if max_df is None:
        return _agg_path(inv)

    hot = cache.persist(
        inv.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("s")
    )
    if hot.isEmpty():
        # no shingle exceeds the cap → the capped index IS the full index;
        # take the cheaper count-aggregation path (no per-pair array
        # intersection). Semantically identical to the capped path.
        return _agg_path(inv)
    sh = cache.persist(sh)
    capped = inv.join(F.broadcast(hot), "s", "left_anti")
    cand = (
        _pair_join(capped)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact verification on the full (uncapped) shingle arrays
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


# -- shared banded-LSH candidate generation ----------------------------------

def candidate_pairs_from_buckets(
    buckets: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from (id, band, key) bucket
    rows — the one pair-generation kernel shared by the MinHash, SimHash
    and hyperplane-LSH paths, so the hot-bucket defense is uniform.

    Bucket rows must be SLIM — id plus the band/key only. Payloads needed
    for verification (shingle arrays, fingerprints, vectors) are joined
    back onto the candidate pairs by the caller; carrying them through the
    exploded bucket frame multiplies their shuffle volume by the band
    count and (worse) by the per-bucket pair blowup.

    max_bucket_size bounds the all-pairs blowup of degenerate buckets
    (e.g. 10^6 boilerplate near-identical docs landing in one band key →
    ~10^12 candidate rows at 100 TB): buckets above the cap emit STAR
    candidates (min id ↔ each member, linear) instead of all pairs, so
    every member still links to a verified keeper while candidate count
    stays O(bucket). Buckets at or under the cap are unaffected.

    The capped path persists the bucket frame (read three ways: sizes /
    small / hot) through kgx.cache.
    """

    def _all_pairs(src: DataFrame) -> DataFrame:
        a, b = src.alias("a"), src.alias("b")
        return a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.key") == F.col("b.key"),
                F.col("a.id") < F.col("b.id"),
            ],
        ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))

    if max_bucket_size is None:
        return _all_pairs(buckets).dropDuplicates(["id_a", "id_b"])

    # capped path reads the bucket frame three ways (sizes, small, hot);
    # persist so the (often expensive) key derivation — minhash
    # permutations, hyperplane fold-dots — evaluates once. The frame is
    # slim by contract, so the footprint is the same rows the self-join
    # shuffles anyway.
    buckets = cache.persist(buckets)
    sizes = buckets.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("bsz"), F.min("id").alias("bmin")
    )
    sized = buckets.join(sizes, ["band", "key"])
    ok = sized.filter(F.col("bsz") <= max_bucket_size)
    hot = sized.filter(F.col("bsz") > max_bucket_size)
    star_pairs = hot.filter(F.col("id") != F.col("bmin")).select(
        F.col("bmin").alias("id_a"), F.col("id").alias("id_b")
    )
    return _all_pairs(ok).unionByName(star_pairs).dropDuplicates(["id_a", "id_b"])


# -- MinHash + LSH ----------------------------------------------------------

# deterministic affine coefficients (a_j, b_j) for k permutations
def _coeffs(k: int) -> list[tuple[int, int]]:
    out = []
    a, b = 0x9E3779B9, 0xC2B2AE3D
    for j in range(k):
        a = (a * 1103515245 + 12345) % _P
        b = (b * 1103515245 + 12345) % _P
        out.append((a | 1, b))
    return out


def minhash_signature(c: Column, n: int = 5, k: int = 32) -> Column:
    """array<long> of k min-hash values over the shingle set. JVM-side:
    xxhash64 per shingle + affine rehash per permutation."""
    return minhash_from_shingles(shingles(c, n), k)


def shingle_hashes(sh: Column, hash_fn=None) -> Column:
    """Per-shingle hash array reduced mod P (so a*h+b never overflows a
    signed long under ANSI arithmetic: a, h < 2^31 → product < 2^62).
    hash_fn defaults to xxhash64; pass md5_hash60 for the cross-engine
    variant a DuckDB oracle reproduces exactly.

    IMPORTANT: project this to a COLUMN (ideally behind a persist barrier)
    before feeding minhash_from_hashes — referencing the hash expression
    directly inside the k permutation transforms makes Catalyst inline it
    k times (measured 3x wall for md5 at k=32)."""
    hash_fn = hash_fn or F.xxhash64
    return F.transform(sh, lambda s: F.pmod(hash_fn(s), F.lit(_P)))


def minhash_from_hashes(hashes: Column, k: int = 32) -> Column:
    """k-permutation MinHash signature from a pre-hashed shingle array."""
    sig = [
        F.array_min(
            F.transform(hashes, lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_P)))
        )
        for (a, b) in _coeffs(k)
    ]
    return F.array(*sig)


def minhash_from_shingles(sh: Column, k: int = 32, hash_fn=None) -> Column:
    return minhash_from_hashes(shingle_hashes(sh, hash_fn), k)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    hash_fn=None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate generation + exact Jaccard verification.

    bands=8, rows=4 over k=32 → collision prob s^4 per band; docs with
    Jaccard s=0.8 collide in >=1 band w.p. ~0.97. The *only* shuffle on
    document pairs is within LSH buckets.

    hash_fn=md5_hash60 switches shingle hashing AND band keys to md5-based
    forms a DuckDB oracle reproduces exactly (band key = the band's
    signature values concatenated, instead of a Spark-only xxhash64).

    max_bucket_size bounds the all-pairs blowup of degenerate buckets
    (e.g. 10^6 boilerplate near-identical docs landing in one band key →
    ~10^12 candidate rows at 100 TB): buckets above the cap emit STAR
    candidates (min id ↔ each member, linear) instead of all pairs, so
    every member still links to a verified keeper while candidate count
    stays O(bucket). Buckets at or under the cap are unaffected.
    """
    rows = k // bands
    spark = df.sparkSession
    npart = spark.sparkContext.defaultParallelism

    # CPU-heavy signature computation: spread across cores regardless of
    # input file layout (a single parquet file would otherwise pin this to
    # one task)
    # token arrays materialized before shingling — see ngram_jaccard_pairs
    base = cache.persist(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
        .repartition(npart, "id")
        .select("id", tokens(F.lower(F.col("txt"))).alias("toks"))
    )
    # persist barrier carries BOTH the shingle array (for verification) and
    # the per-shingle hashes: the k=32 permutation transforms then read a
    # materialized column instead of re-evaluating the hash expression per
    # permutation (Catalyst would inline it k times — 3x wall for md5)
    sh = cache.persist(
        base.select("id", shingles_from_tokens(F.col("toks"), n).alias("sh"))
        .select("id", "sh", shingle_hashes(F.col("sh"), hash_fn).alias("hs"))
    )
    sig = sh.select("id", minhash_from_hashes(F.col("hs"), k).alias("sig"))

    # bucket rows carry only (id, band, key) — the shingle arrays never
    # enter the candidate-pair shuffle
    def band_key(bi: int) -> Column:
        vals = [F.col("sig")[bi * rows + r] for r in range(rows)]
        if hash_fn is None:
            return F.xxhash64(F.lit(bi), *vals).cast("string")
        # cross-engine key: the signature slice itself, concatenated
        return F.concat_ws("_", *[v.cast("string") for v in vals])

    band_cols = F.array(
        *[
            F.struct(F.lit(bi).alias("band"), band_key(bi).alias("key"))
            for bi in range(bands)
        ]
    )
    buckets = sig.select("id", F.explode(band_cols).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )

    cand = candidate_pairs_from_buckets(buckets, max_bucket_size)
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


# -- SimHash ----------------------------------------------------------------

def _simhash_from_counters(counters: list[Column], n_bits: int = 64) -> Column:
    """Assemble the fingerprint from per-bit counters: bit i set iff
    counter_i > 0 (sign of the sum)."""
    from functools import reduce

    bit_terms = [
        F.when(
            counters[i] > 0,
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(n_bits)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), bit_terms)


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """SimHash per doc: bit i of the fingerprint is the sign of
    sum over n-token shingles of (2*bit_i(hash(shingle)) - 1).

    Default: 64 bits of xxhash64. Pass n_bits=60, hash_fn=md5_hash60 for
    the cross-engine variant whose fingerprints a DuckDB oracle reproduces
    bit-for-bit.

    Implemented as explode -> hash -> groupBy(id) with PACKED SUM columns:
    plain aggregates stay inside whole-stage codegen, where the equivalent
    higher-order-function formulation (aggregate+zip_with over a
    per-shingle bit array) runs interpreted (~20x slower measured at
    sf0.1). Four bit-counters share one 64-bit sum (16-bit fields holding
    the count of set bits; the ±1 counter is recovered as 2*field − n),
    cutting the aggregation from n_bits to n_bits/4+1 columns (measured
    ~2x on the agg stage). Field overflow needs 65,536+ shingles in ONE
    document — far beyond the reference's 1M-char admission cap (~200k
    chars ≈ 40k shingles); for corpora of million-token documents halve
    the packing to 2 fields x 32 bits."""
    hash_fn = hash_fn or F.xxhash64
    # CPU-heavy map (tokenize → shingle → hash): spread across cores
    # regardless of input file layout — a single parquet file would
    # otherwise pin the whole fingerprint computation to one task
    npart = df.sparkSession.sparkContext.defaultParallelism
    # token arrays materialized before shingling — see ngram_jaccard_pairs
    tok = cache.persist(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
        .repartition(npart, "id")
        .select("id", tokens(F.lower(F.col("txt"))).alias("toks"))
    )
    sh = tok.select("id", shingles_from_tokens(F.col("toks"), n).alias("sh"))
    hashed = sh.select("id", F.explode("sh").alias("s")).select(
        "id", hash_fn(F.col("s")).alias("h")
    )
    n_groups = (n_bits + 3) // 4
    packed_sums = []
    for g in range(n_groups):
        terms = [
            F.shiftleft(
                F.shiftright("h", 4 * g + j).bitwiseAND(F.lit(1)).cast("long"),
                16 * j,
            )
            for j in range(min(4, n_bits - 4 * g))
        ]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        packed_sums.append(F.sum(acc).alias(f"p{g}"))
    grouped = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"), *packed_sums)
    counters = [
        F.shiftrightunsigned(F.col(f"p{i // 4}"), 16 * (i % 4))
        .bitwiseAND(F.lit(0xFFFF))
        * 2
        - F.col("n_sh")
        for i in range(n_bits)
    ]
    return grouped.select(
        F.col("id").alias(id_col),
        _simhash_from_counters(counters, n_bits).alias("simhash"),
    )


def simhash_candidates(
    fp: DataFrame,
    id_col: str = "doc_id",
    n_bits: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: equal (n_bits/4)-bit chunk in any of 4
    bands (catches all pairs with Hamming distance <= 3).

    Bucket rows are slim (id, band, key); fingerprints re-join onto the
    candidate pairs for the Hamming verify (candidate_pairs_from_buckets
    contract). max_bucket_size degrades degenerate buckets to STAR pairs."""
    band_bits = n_bits // 4
    band_mask = (1 << band_bits) - 1
    # barrier: fp usually carries the (expensive) fingerprint expression;
    # without persist the self-join below inlines it into both sides
    fp = cache.persist(fp)
    buckets = fp.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", i * band_bits)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", F.col("c.band").alias("band"), F.col("c.key").alias("key"))
    cand = candidate_pairs_from_buckets(buckets, max_bucket_size)
    fa = fp.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    fb = fp.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
    )


# -- embedding near-dup -----------------------------------------------------

def hyperplane_band_buckets(
    base: DataFrame,
    n_planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Slim (id, band, key) hyperplane-LSH bucket rows for a (id, vec)
    frame — the shared signature map behind embedding near-dup AND the
    LSH-bucketed ANN search (the two consumers MUST hash with identical
    planes to share buckets; pass the same `planes` to both).

    Signature bit j = sign of <vec, plane_j> (fold-left double, the same
    IEEE-754 order a SQL oracle reproduces); the n_planes bits split into
    `bands` keys of n_planes/bands bits each. Map-only: the exploded output
    carries 3 slim columns per (row, band), never the vector."""
    if planes is not None:
        n_planes = len(planes)
        dim = len(planes[0])
    elif dim is None:
        dim = base.select(F.size("vec").alias("d")).first()["d"]
    rows = n_planes // bands

    def plane(j: int) -> Column:
        if planes is not None:
            return F.array(*[F.lit(float(v)) for v in planes[j]])
        # deterministic pseudo-random plane: component i = hash(j, i) → ±1
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (F.pmod(F.xxhash64(F.lit(j), i), F.lit(2)) * 2 - 1).cast("double"),
        )

    v = F.col("vec")
    sig_bits = [
        F.when(
            F.aggregate(
                F.zip_with(v, plane(j), lambda x, p: x.cast("double") * p),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        for j in range(n_planes)
    ]
    band_keys = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    "", *[sig_bits[bi * rows + r].cast("string") for r in range(rows)]
                ).alias("key"),
            )
            for bi in range(bands)
        ]
    )
    return base.select("id", F.explode(band_keys).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 4,
    threshold: float = 0.35,
    dim: int | None = None,
    planes: list[list[float]] | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cosine near-duplicates via banded random-hyperplane LSH.

    Signature = sign pattern of <v, r_j> for deterministic pseudo-random ±1
    planes r_j; the signature is split into `bands` buckets (OR-amplified:
    a pair is a candidate if ANY band matches — collision prob per band
    (1−θ/π)^(planes/bands)). Exact cosine verifies candidates. Tune
    (n_planes, bands, threshold) to the corpus similarity profile; defaults
    (16 planes / 4-bit band keys → 16 buckets per band) suit
    loosely-clustered corpora; raise threshold to 0.9+ for true dups.

    Scale shape (the round-2 weak spot, fixed): bucket rows are SLIM
    (id, band, key) — vectors never ride the exploded band frame or the
    candidate-pair shuffle; they join back once per verified candidate.
    max_bucket_size degrades degenerate buckets (everything similar to a
    centroid-ish region hashing to one sign pattern) to linear STAR pairs
    exactly like the MinHash path — the band self-join is never quadratic
    in corpus size.

    Pass `dim` to skip the driver-side .first() probe, or explicit ±1
    `planes` rows (cross-engine reproducible: a SQL oracle embeds the same
    literals and every signature bit, bucket and cosine matches bit-exact).
    """
    if planes is not None:
        n_planes = len(planes)
        dim = len(planes[0])
    elif dim is None:
        dim = df.select(F.size(vec_col).alias("d")).first()["d"]

    # the n_planes fold-dot signatures are the CPU-heavy map — spread
    # across cores regardless of input file layout; slim (id, vec) in,
    # slim (id, band, key) out (vectors do NOT ride the exploded frame)
    npart = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).repartition(npart, "id")

    buckets = hyperplane_band_buckets(
        base, n_planes=n_planes, bands=bands, dim=dim, planes=planes
    )
    cand = candidate_pairs_from_buckets(buckets, max_bucket_size)
    va = base.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            F.aggregate(
                F.zip_with(
                    F.col("vec_a"),
                    F.col("vec_b"),
                    lambda x, y: x.cast("double") * y.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / (
                F.sqrt(
                    F.aggregate(
                        F.transform(F.col("vec_a"), lambda x: x.cast("double") * x.cast("double")),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                )
                * F.sqrt(
                    F.aggregate(
                        F.transform(F.col("vec_b"), lambda x: x.cast("double") * x.cast("double")),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                )
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _fold_dot(a: Column, b: Column) -> Column:
    """Left-to-right double fold of <a, b> — the one IEEE-754 evaluation
    order every SQL oracle in this repo reproduces (queries._SQL_FOLD_DOT).
    Delegates to kgx.similarity._dot, the canonical kernel, so the two
    modules cannot drift (a fold-order change there is a fold-order
    change here)."""
    from kgx.similarity import _dot

    return _dot(a, b)


def pair_cosine(a: Column, b: Column) -> Column:
    """Exact cosine between two vector columns, bit-reproducible cross-engine:
    dot / (sqrt(<a,a>) * sqrt(<b,b>)), each inner product a left fold."""
    return _fold_dot(a, b) / (F.sqrt(_fold_dot(a, a)) * F.sqrt(_fold_dot(b, b)))


def semdedup(
    df: DataFrame,
    centroids: list[list[float]],
    tau: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup: semantic deduplication by clustering then within-cluster
    cosine (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication" — public method). Reference
    analogue: document-level dedup before extraction
    (ClassifiedDocument.java txt_h dedup), lifted to embedding space.

    Pipeline: assign every vector to its nearest centroid cell
    (similarity.assign_cells — centroids are driver-side literals, the
    documented k-means contract), generate candidate pairs ONLY within a
    cell via the shared bucket kernel (cell = the blocking key; hot cells
    degrade to linear STAR pairs under `max_cell_size` exactly like the
    LSH families), verify with exact cosine, and drop any vector that has
    a within-cell neighbor with smaller id and cosine >= tau (min-id
    keeper — the same deterministic keeper rule as exact_dedup).

    Returns one row per input vector:
      (vec_id, cell, n_dup_smaller, max_sim_smaller, is_kept)

    Scale shape: the only shuffles are the cell assignment's none (narrow
    map over literal centroids), the bucket kernel's slim (id, band, key)
    self-join, and the two vector join-backs keyed by id. In a real
    deployment k grows with the corpus so that E[cell size] stays bounded
    (the paper uses k ~ sqrt(N)); `max_cell_size` is the deterministic
    backstop for skewed cells.
    """
    from kgx.similarity import assign_cells

    assigned = assign_cells(df, id_col=id_col, vec_col=vec_col, centroids=centroids)
    base = assigned.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), "cell"
    )
    buckets = base.select(
        "id", F.lit(0).alias("band"), F.col("cell").cast("string").alias("key")
    )
    cand = candidate_pairs_from_buckets(buckets, max_cell_size)
    va = base.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    dup = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", pair_cosine(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("cosine") >= F.lit(float(tau)))
    )
    losers = dup.groupBy("id_b").agg(
        F.count(F.lit(1)).alias("n_dup_smaller"),
        F.max("cosine").alias("max_sim_smaller"),
    )
    return (
        base.join(losers, base["id"] == losers["id_b"], "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cell").cast("int").alias("cell"),
            F.coalesce(F.col("n_dup_smaller"), F.lit(0)).cast("bigint").alias(
                "n_dup_smaller"
            ),
            F.col("max_sim_smaller"),
            (F.col("n_dup_smaller").isNull()).alias("is_kept"),
        )
    )


def dup_substring_coverage(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """Duplicated-substring coverage: for each document, the fraction of
    tokens covered by an n-token shingle that also occurs in ANOTHER
    document. This is the shingle-granular form of exact-substring
    deduplication (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" — public method; they use suffix arrays for
    character-exact spans, this uses fixed-width shingles, the standard
    distributed relaxation).

    Returns one row per document:
      (doc_id, n_tokens, n_shingles, n_dup_positions, covered_tokens,
       dup_fraction)

    Scale shape: positional shingles are hashed to 60-bit md5 keys
    immediately, so the duplicate-frequency groupBy and the join back
    shuffle only (doc_id, pos, h) — never shingle text. The coverage
    explode multiplies ONLY duplicated positions by n (<=5), and the
    per-doc countDistinct is bounded by document length. At 100 TB the
    frequency table is the big shuffle; it is a plain hash groupBy with
    map-side partial aggregation (min/max doc_id, not a distinct-count).

    Short docs (< n tokens) degrade to one whole-text shingle covering
    every token — the same fallback contract as shingles_from_tokens.
    """
    c = F.col(text_col)
    toked = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.lower(c)).alias("toks")
    )
    k = F.size(F.col("toks")) - F.lit(n - 1)
    # positional (NON-distinct) shingles: (pos, shingle) per position
    shl = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array_join(F.slice(F.col("toks"), i, n), " "),
        ),
    ).otherwise(F.array(F.array_join(F.col("toks"), " ")))
    base = toked.select(
        "doc_id", F.size(F.col("toks")).alias("n_tokens"), shl.alias("shl")
    )
    # persist the positional-shingle frame: THREE consumers (the frequency
    # groupBy's build side, the probe side of the join, and the per-doc
    # shingle counts) would otherwise each re-run tokenize+shingle+md5
    # over the corpus — the same recompute smell the phrase-edge audit
    # caught in r4. Rows are slim (doc_id, n_tokens, pos, h): the same
    # volume the frequency shuffle moves anyway.
    pos = cache.persist(
        base.select("doc_id", "n_tokens", F.posexplode("shl").alias("pos", "s"))
        .select("doc_id", "n_tokens", "pos", md5_hash60(F.col("s")).alias("h"))
    )
    dup_h = (
        pos.groupBy("h")
        .agg(F.min("doc_id").alias("dmin"), F.max("doc_id").alias("dmax"))
        .filter(F.col("dmin") < F.col("dmax"))
        .select("h")
    )
    dup_pos = cache.persist(pos.join(dup_h, "h"))
    dup_counts = dup_pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_positions")
    )
    covered = (
        dup_pos.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("pos"),
                    F.least(F.col("pos") + F.lit(n - 1), F.col("n_tokens") - 1),
                )
            ).alias("ti"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("ti").alias("covered_tokens"))
    )
    # per-doc totals from the SAME persisted frame (every doc emits >= 1
    # shingle — the short-doc fallback — so no doc is lost here), instead
    # of a second tokenize pass over the text
    totals = pos.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_shingles"),
    )
    return (
        totals.join(dup_counts, "doc_id", "left")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.coalesce("n_dup_positions", F.lit(0)).cast("bigint").alias(
                "n_dup_positions"
            ),
            F.coalesce("covered_tokens", F.lit(0)).cast("bigint").alias(
                "covered_tokens"
            ),
            (
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("dup_fraction"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Directed sub-document containment pairs: C(src→dst) =
    |sh(src) ∩ sh(dst)| / |sh(src)| >= threshold over distinct n-token
    shingle sets. The asymmetric complement of ngram_jaccard_pairs —
    a short document quoted whole inside a long one has containment 1.0
    but Jaccard ≈ |short|/|long|, far below any near-dup threshold, so
    symmetric dedup never sees it. This is the operator that catches
    quote-inclusion / boilerplate-wrapping / page-within-crawl cases in
    a training corpus (Broder's containment, the other half of the
    resemblance/containment pair).

    Same inverted-index blocking as ngram_jaccard_pairs: candidates are
    pairs sharing >=1 indexed shingle; `max_df` drops hot boilerplate
    shingles from the CANDIDATE index only, and every candidate verifies
    against the FULL shingle arrays, so emitted containments are exact.
    Unlike Jaccard there is NO size-ratio join prune — containment of a
    small doc in a huge one is legitimate — so the hot-shingle cap is
    the load-bearing bound on candidate fan-out at scale. One
    intersection computation per unordered pair; both directions emit
    from it (in-row explode, no second join)."""
    npart = df.sparkSession.sparkContext.defaultParallelism
    tok = cache.persist(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
        .repartition(npart, "id")
        .select("id", tokens(F.lower(F.col("txt"))).alias("toks"))
    )
    sh = cache.persist(
        tok.select("id", shingles_from_tokens(F.col("toks"), n).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
    )
    inv = sh.select("id", F.explode("sh").alias("s"))
    if max_df is not None:
        hot = (
            inv.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("s")
        )
        inv = inv.join(F.broadcast(hot), "s", "left_anti")
    inv = cache.persist(inv)
    a, b = inv.alias("a"), inv.alias("b")
    cand = (
        a.join(b, on=[F.col("a.s") == F.col("b.s"), F.col("a.id") < F.col("b.id")])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                   F.col("n_sh").alias("na"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                   F.col("n_sh").alias("nb"))
    v = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "na", "nb",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
        )
    )
    t = float(threshold)
    return v.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src_id"),
                    F.col("id_b").alias("dst_id"),
                    (F.col("inter").cast("double") / F.col("na").cast("double")
                     ).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("src_id"),
                    F.col("id_a").alias("dst_id"),
                    (F.col("inter").cast("double") / F.col("nb").cast("double")
                     ).alias("containment"),
                ),
            )
        ).alias("r")
    ).select("r.*").filter(F.col("containment") >= t)
