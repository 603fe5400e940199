"""Deduplication + similarity-search + sketch rows: exact/ngram/minhash/
simhash/embedding/semantic dedup, ANN (dot/cosine/IVF/LSH/PQ), HLL/CMS/
Bloom sketches — plus their DuckDB oracle SQL.

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

# cross-engine left-fold dot product (Spark F.aggregate ≡ DuckDB
# list_reduce over list_prepend(0.0, ...)): bit-identical IEEE-754 doubles
_SQL_FOLD_DOT = """list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(list_zip({a}, {b}),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
            (a, b) -> a + b)"""
# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the synthetic documents table has no normalized-equal texts at any
    # sf, so running over it alone yields an EMPTY (vacuously matching)
    # oracle row — every round r1-r3 checked 0 rows. Union a deterministic
    # perturbed copy (doc_id%10==3, uppercased, padded) so the check
    # exercises the normalization (lower/trim/whitespace-collapse), the
    # hash grouping AND the min-id keeper rule on real output.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit("  ")).alias("text"),
    )
    return dedup.exact_dedup(docs.unionByName(dup))
DEDUP_EXACT_SQL = r"""
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
g AS (SELECT h, min(doc_id) AS keep_id FROM h GROUP BY h)
SELECT g.keep_id, h.doc_id AS dup_id
FROM h JOIN g USING (h)
WHERE h.doc_id <> g.keep_id
"""
_NGRAM_MAX_DF = 400  # hot-shingle document-frequency cap (scale path), in
# force on the graded query and mirrored exactly in the oracle SQL


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=5, threshold=0.2, max_df=_NGRAM_MAX_DF
    )
# mirrors the capped Spark path exactly: hot shingles leave the candidate
# index only; candidate pairs verify against the FULL shingle arrays
DEDUP_NGRAM_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5 THEN
           list_distinct([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)])
         ELSE [array_to_string(toks, ' ')] END AS sh
  FROM t
),
inv AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
hot AS (SELECT s FROM inv GROUP BY s HAVING count(*) > {_NGRAM_MAX_DF}),
capped AS (SELECT inv.* FROM inv ANTI JOIN hot USING (s)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b
    ON a.s = b.s AND a.doc_id < b.doc_id
   AND a.n_sh >= 0.2 * b.n_sh AND b.n_sh >= 0.2 * a.n_sh
),
v AS (
  SELECT c.id_a, c.id_b,
         len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
         len(sa.sh) AS na, len(sb.sh) AS nb
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
FROM v
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.2
"""
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER collapse: n-gram Jaccard pairs (hot-shingle-capped)
    become an undirected graph; connected components (kgx.canonical —
    min-label + pointer jumping, the same engine that canonicalizes
    entities) assign every duplicated doc its cluster keeper = min doc_id.
    This is the training-data dedup endgame: pairs alone can't be acted
    on (A~B, B~C must collapse to ONE keeper, not two independent drops).
    Only docs that appear in some pair are emitted; singletons keep
    themselves by definition."""
    from kgx import canonical

    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=5, threshold=0.2, max_df=_NGRAM_MAX_DF
    )
    nodes = (
        pairs.select(F.col("id_a").cast("long").alias("entity_id"))
        .unionByName(pairs.select(F.col("id_b").cast("long").alias("entity_id")))
        .distinct()
    )
    # star convention of canonical.connected_components: src > dst so the
    # seed min(dst) strictly decreases labels (id_a < id_b per pair)
    edges = pairs.select(
        F.col("id_b").cast("long").alias("src"), F.col("id_a").cast("long").alias("dst")
    )
    cc = canonical.connected_components(nodes, edges)
    return cc.select(
        F.col("entity_id").alias("doc_id"), F.col("canonical_id").alias("keep_id")
    )
DEDUP_CANON_SQL = f"""
WITH RECURSIVE pairs AS ({DEDUP_NGRAM_SQL}),
nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk AS (
  SELECT id, id AS comp FROM nodes
  UNION
  SELECT s.src AS id, w.comp FROM sym s JOIN walk w ON w.id = s.dst
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(comp) AS BIGINT) AS keep_id
FROM walk GROUP BY id
"""
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup, cross-engine-exact variant: shingle hashes and
    band keys derive from md5 (dedup.md5_hash60), which DuckDB reproduces
    bit-for-bit — the full banded-LSH + exact-Jaccard-verify pipeline is
    oracle-checked. (The xxhash64 default path keeps its pytest recall
    check vs exact Jaccard.)"""
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        n=5,
        k=32,
        bands=8,
        threshold=0.2,
        hash_fn=dedup.md5_hash60,
    )
def _minhash_sql() -> str:
    P = dedup._P
    coeffs = dedup._coeffs(32)
    sig_exprs = ",\n         ".join(
        f"list_aggregate(list_transform(hs, h -> (h*{a} + {b}) % {P}), 'min') AS s{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    key_exprs = ",\n         ".join(
        "concat_ws('_', "
        + ", ".join(f"CAST(s{bi * 4 + r} AS VARCHAR)" for r in range(4))
        + f") AS k{bi}"
        for bi in range(8)
    )
    band_case = " ".join(f"WHEN {bi} THEN k{bi}" for bi in range(8))
    band_values = ", ".join(f"({bi})" for bi in range(8))
    return f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5 THEN
           list_distinct([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)])
         ELSE [array_to_string(toks, ' ')] END AS sh
  FROM t
),
hashed AS (
  SELECT doc_id, sh,
         list_transform(sh, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {P}) AS hs
  FROM sh
),
sig AS (
  SELECT doc_id, sh,
         {sig_exprs}
  FROM hashed
),
keys AS (
  SELECT doc_id, sh,
         {key_exprs}
  FROM sig
),
buckets AS (
  SELECT doc_id, b.band, CASE b.band {band_case} END AS key
  FROM keys, (VALUES {band_values}) AS b(band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
v AS (
  SELECT c.id_a, c.id_b,
         len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
         len(sa.sh) AS na, len(sb.sh) AS nb
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
FROM v
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.2
"""
DEDUP_MINHASH_SQL = _minhash_sql()
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates, cross-engine-exact variant: 60-bit
    fingerprints from md5-derived shingle hashes (dedup.md5_hash60) so the
    DuckDB oracle reproduces every fingerprint, band bucket and Hamming
    distance bit-for-bit. (The 64-bit xxhash64 default path keeps its
    pytest verification.)"""
    fp = dedup.simhash_fingerprints(
        _t(spark, sf_dir, "documents"), n_bits=60, hash_fn=dedup.md5_hash60
    )
    cand = dedup.simhash_candidates(fp, n_bits=60)
    return cand.filter(F.col("hamming") <= 16)
def _simhash_sql() -> str:
    sums = ",\n         ".join(
        f"sum(((h >> {i}) & 1) * 2 - 1) AS c{i}" for i in range(60)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN c{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(60)
    )
    return f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])
         ELSE [array_to_string(toks, ' ')] END AS sh
  FROM t
),
h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
),
c AS (
  SELECT doc_id,
         {sums}
  FROM h GROUP BY doc_id
),
fp AS (SELECT doc_id, ({fp_terms}) AS simhash FROM c),
chunks AS (
  SELECT doc_id, simhash, b.band,
         (simhash >> (b.band * 15)) & 32767 AS chunk
  FROM fp, (VALUES (0), (1), (2), (3)) AS b(band)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM chunks a JOIN chunks b
    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 16
"""
DEDUP_SIMHASH_SQL = _simhash_sql()
def _neardup_planes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 hyperplanes shared verbatim by Spark (literal
    arrays) and the DuckDB oracle (VALUES rows)."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"kgx-plane-{j}-{i}".encode()).digest()[0] % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]
_NEARDUP_CAP = 64  # max bucket size before STAR-pairs degradation
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane LSH, oracle-checked:
    signature bits, band buckets and the verifying cosine all fold
    left-to-right in double over literal planes shared with the SQL
    oracle — bit-exact cross-engine. 16 planes / 4-bit band keys (16
    buckets per band, vs round 2's 4) + max_bucket_size STAR-pairs
    degradation, so the band self-join is bounded even on clustered
    corpora; the oracle reproduces the capped candidate set exactly.
    (Recall vs brute force stays pytest-asserted on the hash-derived
    default planes.)"""
    return dedup.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.35,
        planes=_neardup_planes(16, 64),
        max_bucket_size=_NEARDUP_CAP,
    )
def _hyperplane_cte() -> str:
    """Shared oracle-SQL prefix: hyperplane signatures -> (vec_id, band,
    key) bucket rows over the SAME literal planes the Spark side uses
    (dedup.hyperplane_band_buckets) — one definition so the two bit-exact
    rows built on it (dedup_embedding, ann_lsh_topk) cannot silently
    diverge on the bucket-key derivation."""
    planes = _neardup_planes(16, 64)
    values = ",\n  ".join(
        "(" + str(j) + ", [" + ", ".join(f"{v:.1f}" for v in row) + "]::DOUBLE[])"
        for j, row in enumerate(planes)
    )
    dot = _SQL_FOLD_DOT
    return f"""planes(j, pv) AS (VALUES
  {values}
),
bits AS (
  SELECT e.vec_id, p.j,
         CASE WHEN {dot.format(a="e.embedding", b="p.pv")} > 0 THEN 1 ELSE 0 END AS b
  FROM embeddings e, planes p
),
sigs AS (
  SELECT vec_id, list(b ORDER BY j) AS bl FROM bits GROUP BY vec_id
),
buckets AS (
  SELECT vec_id, bd.band,
         array_to_string(bl[bd.band * 4 + 1 : bd.band * 4 + 4], '') AS key
  FROM sigs, (VALUES (0), (1), (2), (3)) AS bd(band)
)"""
def _neardup_sql() -> str:
    dot = _SQL_FOLD_DOT
    cap = _NEARDUP_CAP
    return f"""
WITH {_hyperplane_cte()},
bsizes AS (
  SELECT band, key, count(*) AS bsz, min(vec_id) AS bmin
  FROM buckets GROUP BY 1, 2
),
sized AS (
  SELECT b.vec_id, b.band, b.key, s.bsz, s.bmin
  FROM buckets b JOIN bsizes s USING (band, key)
),
cand AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM sized a JOIN sized b
      ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
    WHERE a.bsz <= {cap}
    UNION ALL
    SELECT bmin AS id_a, vec_id AS id_b FROM sized
    WHERE bsz > {cap} AND vec_id <> bmin
  )
),
v AS (
  SELECT c.id_a, c.id_b,
         {dot.format(a="ea.embedding", b="eb.embedding")}
         / (sqrt({dot.format(a="ea.embedding", b="ea.embedding")})
          * sqrt({dot.format(a="eb.embedding", b="eb.embedding")})) AS cosine
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b
)
SELECT id_a, id_b, cosine FROM v WHERE cosine >= 0.35
"""
DEDUP_EMBEDDING_SQL = _neardup_sql()
# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def ann_topk_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-5 by dot product. Cross-engine exact: both engines
    fold the products left-to-right in double (Spark F.aggregate ≡ DuckDB
    list_reduce over list_prepend(0.0, ...)), so the IEEE-754 result is
    bit-identical."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = similarity.brute_force_topk(emb, q, k=5, metric="dot")
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("bigint").alias("rank")
    )
ANN_DOT_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(list_zip(q.qv, c.embedding),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
            (a, b) -> a + b) AS sim
  FROM embeddings c, q WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5. Cross-engine exact like ann_topk_dot: dot
    and squared-norm both fold left-to-right in double, and sqrt/divide are
    correctly-rounded IEEE-754 ops — so the cosine is bit-identical."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = similarity.brute_force_topk(emb, q, k=5, metric="cosine")
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("bigint").alias("rank")
    )
ANN_COSINE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_SQL_FOLD_DOT.format(a="q.qv", b="c.embedding")}
         / (sqrt({_SQL_FOLD_DOT.format(a="q.qv", b="q.qv")})
          * sqrt({_SQL_FOLD_DOT.format(a="c.embedding", b="c.embedding")})) AS sim
  FROM embeddings c, q WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""
def _ivf_centroids(n_cells: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 centroid stand-ins shared verbatim by the Spark
    query (literal arrays) and the DuckDB oracle (VALUES rows) — the
    k-means contract is documented in kgx.similarity."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"kgx-ivf-{ci}-{i}".encode()).digest()[0] % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for ci in range(n_cells)
    ]
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-5, oracle-checked: cell assignment,
    probe selection and cosine scoring all fold left-to-right in double
    over literal centroids shared with the SQL oracle, so every rank is
    bit-exact cross-engine. (Recall vs brute force stays pytest-asserted.)"""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = similarity.ivf_topk(
        emb, q, k=5, nprobe=3, centroids=_ivf_centroids(8, 64)
    )
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("bigint").alias("rank")
    )
def _ivf_sql() -> str:
    cents = _ivf_centroids(8, 64)
    values = ",\n  ".join(
        "(" + str(ci) + ", ["
        + ", ".join(f"{v:.1f}" for v in row)
        + "]::DOUBLE[])"
        for ci, row in enumerate(cents)
    )
    dot = _SQL_FOLD_DOT
    return f"""
WITH cents(cell, cv) AS (VALUES
  {values}
),
cscore AS (
  SELECT e.vec_id, c.cell,
         {dot.format(a="e.embedding", b="c.cv")} AS sim
  FROM embeddings e, cents c
),
cassign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
    FROM cscore
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
qscore AS (
  SELECT q.query_id, c.cell,
         {dot.format(a="q.qv", b="c.cv")} AS sim
  FROM q, cents c
),
qprobe AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cell DESC) AS rn
    FROM qscore
  ) WHERE rn <= 3
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {dot.format(a="q.qv", b="e.embedding")}
         / (sqrt({dot.format(a="q.qv", b="q.qv")})
          * sqrt({dot.format(a="e.embedding", b="e.embedding")})) AS sim
  FROM qprobe p
  JOIN q ON q.query_id = p.query_id
  JOIN cassign ca ON ca.cell = p.cell
  JOIN embeddings e ON e.vec_id = ca.vec_id
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""
ANN_IVF_SQL = _ivf_sql()
_ANN_LSH_CAP = 256  # deterministic corpus-bucket truncation, in force on
# the graded row and mirrored exactly in the oracle SQL


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (similarity.lsh_topk) — the
    hash-partitioned ANN scale path beside IVF: corpus and queries share
    hyperplane band buckets (the SAME literal planes as dedup_embedding,
    so one signature pass serves near-dup AND search), candidates come
    from bucket co-membership, exact cosine ranks them. Every signature
    bit, bucket key, truncation row-number and cosine folds left-to-right
    in double over literal planes shared with the SQL oracle — bit-exact
    cross-engine. (Recall vs brute force stays pytest-asserted.)"""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = similarity.lsh_topk(
        emb, q, k=5,
        planes=_neardup_planes(16, 64),
        max_bucket_size=_ANN_LSH_CAP,
    )
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("bigint").alias("rank")
    )
def _ann_lsh_sql() -> str:
    dot = _SQL_FOLD_DOT
    return f"""
WITH {_hyperplane_cte()},
cb AS (
  SELECT vec_id, band, key FROM (
    SELECT vec_id, band, key,
           row_number() OVER (PARTITION BY band, key ORDER BY vec_id) AS rn
    FROM buckets
  ) WHERE rn <= {_ANN_LSH_CAP}
),
qb AS (SELECT vec_id, band, key FROM buckets WHERE vec_id < 5),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM cb c JOIN qb q ON c.band = q.band AND c.key = q.key
  WHERE c.vec_id <> q.vec_id
),
scored AS (
  SELECT cd.query_id, cd.neighbor_id,
         {dot.format(a="eq.embedding", b="ec.embedding")}
         / (sqrt({dot.format(a="eq.embedding", b="eq.embedding")})
          * sqrt({dot.format(a="ec.embedding", b="ec.embedding")})) AS sim
  FROM cand cd
  JOIN embeddings eq ON eq.vec_id = cd.query_id
  JOIN embeddings ec ON ec.vec_id = cd.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""
ANN_LSH_SQL = _ann_lsh_sql()
_HLL_P = 6
def sketch_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user HLL sketch (kgx.sketch): m=64 md5-based
    registers, exact-integer harmonic sum, one literal/sum division — so
    the DuckDB oracle reproduces the ESTIMATE bit-for-bit, not just the
    register table. exact_distinct/rel_err columns audit sketch quality
    in the same result set."""
    from kgx import sketch

    ev = _t(spark, sf_dir, "events")
    est = sketch.hll_distinct(ev, "user_id", ["event_type"], p=_HLL_P)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "m",
        "v_zero",
        "sum_scaled",
        "hll_estimate",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        (
            (F.col("hll_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct")
        ).alias("rel_err"),
    )
def _hll_oracle_sql(p: int) -> str:
    from kgx import sketch

    m = 1 << p
    s_exp = 61 - p
    wid1 = (60 - p) + 1
    pref = repr(sketch._prefactor(p))
    return f"""
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
           AS h
  FROM events
),
r AS (
  SELECT event_type, h % {m} AS reg,
         CASE WHEN (h >> {p}) = 0 THEN {wid1}
              ELSE {wid1} - length(bin(h >> {p})) END AS rho
  FROM h
),
regs AS (SELECT event_type, reg, max(rho) AS max_rho FROM r GROUP BY 1, 2),
est AS (
  SELECT event_type,
         CAST({m} AS BIGINT) AS m,
         CAST({m} - count(*) AS BIGINT) AS v_zero,
         CAST(sum(CAST(1 AS BIGINT) << ({s_exp} - max_rho))
              + ({m} - count(*)) * (CAST(1 AS BIGINT) << {s_exp}) AS BIGINT)
           AS sum_scaled
  FROM regs GROUP BY 1
),
est2 AS (
  SELECT *, {pref} / CAST(sum_scaled AS DOUBLE) AS hll_estimate FROM est
),
ex AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT e.event_type, m, v_zero, sum_scaled, hll_estimate, exact_distinct,
       (hll_estimate - exact_distinct) / exact_distinct AS rel_err
FROM est2 e JOIN ex USING (event_type)
"""
SKETCH_HLL_SQL = _hll_oracle_sql(_HLL_P)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributivity proof as an oracle row: Spark sketches two DISJOINT
    shards of events (event_id parity) independently, merges the register
    tables (max per register), and estimates — while the oracle computes
    the single-pass sketch. Hash-equality of the two results is exactly
    the sketch-of-shards == sketch-of-whole property a sharded 100 TB
    pipeline relies on."""
    from kgx import sketch

    ev = _t(spark, sf_dir, "events")
    a = sketch.hll_registers(
        ev.where(F.col("event_id") % 2 == 0), "user_id", ["event_type"], p=_HLL_P
    )
    b = sketch.hll_registers(
        ev.where(F.col("event_id") % 2 == 1), "user_id", ["event_type"], p=_HLL_P
    )
    merged = sketch.merge_registers(a, b, ["event_type"])
    est = sketch.hll_estimate(merged, ["event_type"], p=_HLL_P)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "m",
        "v_zero",
        "sum_scaled",
        "hll_estimate",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        (
            (F.col("hll_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct")
        ).alias("rel_err"),
    )
# ---------------------------------------------------------------------------
# Round-4b additions: Count-Min, Bloom, TF-IDF, unigram LM, entity carryover
# ---------------------------------------------------------------------------

_CMS_DEPTH, _CMS_WIDTH = 3, 64
_CMS_PROBES = (
    "table", "value", "query", "spark", "customer", "vector",
    "stream", "window", "fast", "slow", "zzz_absent",
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point queries per language, with the shard-merge
    distributivity proof baked in: the cells come from two DISJOINT
    doc_id-parity shards sketched independently and merged (kgx.sketch
    cms_counts/cms_merge — sum distributes), while the oracle sketches in
    a single pass; hash equality IS the mergeability property a sharded
    100 TB frequency pipeline relies on. CMS never undercounts: the
    emitted overestimate column is >= 0 for present probes, and the
    absent probe ('zzz_absent') shows pure collision mass at width 64."""
    from kgx import sketch

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(textops.tokens(F.lower(F.col("text")))).alias("token"),
    )
    a = sketch.cms_counts(
        tok.where(F.col("doc_id") % 2 == 0), "token", ["lang"], _CMS_DEPTH, _CMS_WIDTH
    )
    b = sketch.cms_counts(
        tok.where(F.col("doc_id") % 2 == 1), "token", ["lang"], _CMS_DEPTH, _CMS_WIDTH
    )
    cells = sketch.cms_merge(a, b, ["lang"])
    probes = (
        docs.select("lang")
        .distinct()
        .withColumn("probe", F.explode(F.array(*[F.lit(p) for p in _CMS_PROBES])))
    )
    est = sketch.cms_point_query(
        cells, probes, ["lang"], "probe", _CMS_DEPTH, _CMS_WIDTH
    )
    exact = (
        tok.where(F.col("token").isin(*_CMS_PROBES))
        .groupBy("lang", F.col("token").alias("probe"))
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return est.join(exact, ["lang", "probe"], "left").select(
        "lang",
        "probe",
        "cms_count",
        F.coalesce(F.col("exact_count"), F.lit(0)).cast("bigint").alias("exact_count"),
        (F.col("cms_count") - F.coalesce(F.col("exact_count"), F.lit(0)))
        .cast("bigint")
        .alias("overestimate"),
    )
SKETCH_CMS_SQL = rf"""
WITH tok AS (
  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
r AS (SELECT unnest([0, 1, 2]) AS r),
cells AS (
  SELECT lang, r,
         CAST(CAST(('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || '|' || token), 1, 15))
              AS BIGINT) % {_CMS_WIDTH} AS INTEGER) AS c,
         count(*) AS cnt
  FROM tok, r GROUP BY 1, 2, 3
),
probes AS (SELECT unnest({list(_CMS_PROBES)!r}) AS probe),
langs AS (SELECT DISTINCT lang FROM documents),
ph AS (
  SELECT langs.lang, probes.probe, r.r,
         CAST(CAST(('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR) || '|' || probes.probe), 1, 15))
              AS BIGINT) % {_CMS_WIDTH} AS INTEGER) AS c
  FROM langs, probes, r
),
est AS (
  SELECT ph.lang, ph.probe, CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS cms_count
  FROM ph LEFT JOIN cells ON cells.lang = ph.lang AND cells.r = ph.r AND cells.c = ph.c
  GROUP BY 1, 2
),
exact AS (SELECT lang, token, count(*) AS c FROM tok GROUP BY 1, 2)
SELECT est.lang, est.probe, est.cms_count,
       CAST(coalesce(exact.c, 0) AS BIGINT) AS exact_count,
       CAST(est.cms_count - coalesce(exact.c, 0) AS BIGINT) AS overestimate
FROM est LEFT JOIN exact ON exact.lang = est.lang AND exact.token = est.probe
"""
_BLOOM_M, _BLOOM_K, _BLOOM_N = 4096, 3, 8
def sketch_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the O(m_bits) build-side variant of
    curate_contamination (same doc_id % 50 benchmark split, same 8-gram
    shingles): the exact distinct-shingle broadcast stops fitting when the
    benchmark outgrows executor memory, the bit table never does. No false
    negatives by construction (every true overlap flags); false POSITIVES
    are part of the sketch contract and the md5-derived bit positions
    (kgx.sketch.bloom_bits/bloom_probe) make even those bit-reproducible
    in the oracle."""
    from kgx import sketch

    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", textops.tokens(F.lower(F.col("text"))).alias("toks")
    ).select(
        "doc_id",
        F.explode(dedup.shingles_from_tokens(F.col("toks"), _BLOOM_N)).alias("sh"),
    )
    bench = sh.where(F.col("doc_id") % 50 == 0)
    corpus = sh.where(F.col("doc_id") % 50 != 0)
    bits = sketch.bloom_bits(bench, "sh", _BLOOM_M, _BLOOM_K)
    probed = sketch.bloom_probe(
        corpus, "sh", ["doc_id"], bits, _BLOOM_M, _BLOOM_K
    )
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.col("bloom_member").cast("int")).cast("bigint").alias("n_bloom_hits"),
        )
        .withColumn("flagged", F.col("n_bloom_hits") > 0)
    )
SKETCH_BLOOM_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {_BLOOM_N} THEN
           list_distinct([array_to_string(toks[i:i+{_BLOOM_N - 1}], ' ')
                          FOR i IN range(1, len(toks) - {_BLOOM_N - 2})])
         ELSE [array_to_string(toks, ' ')] END AS sh
  FROM tok
),
shs AS (SELECT doc_id, unnest(sh) AS s FROM sh),
hi AS (SELECT unnest([0, 1, 2]) AS i),
bits AS (
  SELECT DISTINCT
         CAST(('0x' || substr(md5('bloom' || CAST(i AS VARCHAR) || '|' || s), 1, 15))
              AS BIGINT) % {_BLOOM_M} AS bit
  FROM shs, hi WHERE doc_id % 50 = 0
),
probe AS (
  SELECT doc_id, s, i,
         CAST(('0x' || substr(md5('bloom' || CAST(i AS VARCHAR) || '|' || s), 1, 15))
              AS BIGINT) % {_BLOOM_M} AS bit
  FROM shs, hi WHERE doc_id % 50 <> 0
),
member AS (
  SELECT p.doc_id, p.s,
         CAST(sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nhits
  FROM probe p LEFT JOIN bits b USING (bit)
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN nhits = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       sum(CASE WHEN nhits = {_BLOOM_K} THEN 1 ELSE 0 END) > 0 AS flagged
FROM member GROUP BY doc_id
"""
_PQ_M, _PQ_K, _PQ_DSUB = 8, 16, 8  # 64-dim embeddings -> 8 subspaces of 8
def _pq_codebooks() -> list[list[list[float]]]:
    """Deterministic ±1 sub-quantizer stand-ins (same contract as
    _ivf_centroids): shared verbatim by the Spark query (literal arrays)
    and the DuckDB oracle (VALUES rows)."""
    import hashlib

    return [
        [
            [
                1.0
                if hashlib.md5(f"kgx-pq-{s}-{c}-{i}".encode()).digest()[0] % 2 == 0
                else -1.0
                for i in range(_PQ_DSUB)
            ]
            for c in range(_PQ_K)
        ]
        for s in range(_PQ_M)
    ]
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 (similarity.pq_topk): corpus encoded
    to 8 codes/vector against literal codebooks, per-query 8x16 distance
    tables, in-row ordered fold for the ADC sum — codes, tables and
    distances all bit-exact cross-engine. (Raw corpus vectors are never
    read at query time — the PQ scale contract.)"""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = similarity.pq_topk(emb, q, k=5, codebooks=_pq_codebooks())
    return out.select(
        "query_id", "neighbor_id", "adc_dist", F.col("rank").cast("bigint").alias("rank")
    )
_SQL_FOLD_SQDIST = """list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(list_zip({a}, {b}),
                x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2]))),
            (a, b) -> a + b)"""
def _pq_sql() -> str:
    cbs = _pq_codebooks()
    values = ",\n  ".join(
        f"({s}, {c}, ["
        + ", ".join(f"{v:.1f}" for v in cbs[s][c])
        + "]::DOUBLE[])"
        for s in range(_PQ_M)
        for c in range(_PQ_K)
    )
    d = _SQL_FOLD_SQDIST
    sub = f"embedding[cb.s*{_PQ_DSUB}+1 : cb.s*{_PQ_DSUB}+{_PQ_DSUB}]"
    return f"""
WITH cb(s, c, cv) AS (VALUES
  {values}
),
corpus_sub AS (
  SELECT e.vec_id, cb.s, cb.c,
         {d.format(a=f"e.{sub}", b="cb.cv")} AS dist
  FROM embeddings e, cb
),
codes AS (
  SELECT vec_id, s, c AS code FROM (
    SELECT vec_id, s, c,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
    FROM corpus_sub
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
qtab AS (
  SELECT q.query_id, cb.s, cb.c,
         {d.format(a=f"q.{sub}", b="cb.cv")} AS dist
  FROM q, cb
),
pair AS (
  SELECT qt.query_id, co.vec_id AS neighbor_id, qt.s, qt.dist
  FROM codes co JOIN qtab qt ON qt.s = co.s AND qt.c = co.code
  WHERE co.vec_id <> qt.query_id
),
adc AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(dist ORDER BY s)),
                     (a, b) -> a + b) AS adc_dist
  FROM pair GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM adc
) WHERE rank <= 5
"""
ANN_PQ_SQL = _pq_sql()
# ---------------------------------------------------------------------------
# round-4c additions: SemDeDup, duplicated-substring coverage, BM25,
# bigram LM counts
# ---------------------------------------------------------------------------


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table (dedup.semdedup): literal ±1
    centroids shared verbatim with the oracle (the k-means contract —
    see ann_ivf_topk), within-cell exact cosine, min-id keeper. tau=0.35
    sits in this synthetic corpus's near-dup tail (max pairwise cosine
    ~0.51; it drops 61 of the 500 sf0.01 vectors), so the row
    exercises both kept and dropped vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.semdedup(emb, centroids=_ivf_centroids(8, 64), tau=0.35)
def _semdedup_sql() -> str:
    cents = _ivf_centroids(8, 64)
    values = ",\n  ".join(
        "(" + str(ci) + ", ["
        + ", ".join(f"{v:.1f}" for v in row)
        + "]::DOUBLE[])"
        for ci, row in enumerate(cents)
    )
    dot = _SQL_FOLD_DOT
    return f"""
WITH cents(cell, cv) AS (VALUES
  {values}
),
cscore AS (
  SELECT e.vec_id, c.cell,
         {dot.format(a="e.embedding", b="c.cv")} AS sim
  FROM embeddings e, cents c
),
cassign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
    FROM cscore
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         {dot.format(a="a.embedding", b="b.embedding")}
         / (sqrt({dot.format(a="a.embedding", b="a.embedding")})
          * sqrt({dot.format(a="b.embedding", b="b.embedding")})) AS cosine
  FROM cassign ca
  JOIN cassign cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
  JOIN embeddings a ON a.vec_id = ca.vec_id
  JOIN embeddings b ON b.vec_id = cb.vec_id
),
losers AS (
  SELECT ib, CAST(count(*) AS BIGINT) AS n_dup_smaller,
         max(cosine) AS max_sim_smaller
  FROM pairs WHERE cosine >= 0.35 GROUP BY 1
)
SELECT e.vec_id, CAST(ca.cell AS INTEGER) AS cell,
       CAST(coalesce(l.n_dup_smaller, 0) AS BIGINT) AS n_dup_smaller,
       l.max_sim_smaller,
       l.ib IS NULL AS is_kept
FROM embeddings e
JOIN cassign ca USING (vec_id)
LEFT JOIN losers l ON l.ib = e.vec_id
"""
DEDUP_SEMANTIC_SQL = _semdedup_sql()
_QH_BINS, _QH_LO, _QH_HI = 50, 0.0, 500.0
_QH_QS = (0.5, 0.9, 0.99)
def sketch_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram quantile sketch (kgx.sketch
    hist_counts/hist_merge/hist_quantiles): Spark sketches two DISJOINT
    event shards (event_id parity) independently, merges per-bucket by
    SUM, and reads p50/p90/p99 of `value` per event_type off the merged
    histogram — while the oracle sketches in ONE pass. Hash equality is
    the sketch-of-shards == sketch-of-whole distributivity a sharded
    100 TB scan relies on (same proof shape as sketch_hll_merge). All
    rank math is exact-integer; the only floats are the shared binning
    expression and the final edge estimate, written identically in both
    engines."""
    from kgx import sketch

    ev = _t(spark, sf_dir, "events")
    a = sketch.hist_counts(
        ev.where(F.col("event_id") % 2 == 0), "value", ["event_type"],
        _QH_BINS, _QH_LO, _QH_HI,
    )
    b = sketch.hist_counts(
        ev.where(F.col("event_id") % 2 == 1), "value", ["event_type"],
        _QH_BINS, _QH_LO, _QH_HI,
    )
    merged = sketch.hist_merge(a, b, ["event_type"])
    return sketch.hist_quantiles(
        merged, ["event_type"], _QH_BINS, _QH_LO, _QH_HI, _QH_QS
    )
SKETCH_QUANTILE_SQL = f"""
WITH b AS (
  SELECT event_type,
         least({_QH_BINS - 1}, greatest(0,
           CAST(floor((value - {_QH_LO}) / {_QH_HI - _QH_LO} * {_QH_BINS})
                AS INTEGER))) AS bucket
  FROM events
),
hist AS (SELECT event_type, bucket, count(*) AS n FROM b GROUP BY 1, 2),
cum AS (
  SELECT event_type, bucket,
         sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         sum(n) OVER (PARTITION BY event_type) AS total
  FROM hist
),
q AS (SELECT unnest([{", ".join(f"CAST({q} AS DOUBLE)" for q in _QH_QS)}]) AS q),
hit AS (
  SELECT c.event_type, q.q,
         CAST(ceil(q.q * c.total) AS BIGINT) AS rank,
         c.total, c.bucket
  FROM cum c CROSS JOIN q
  WHERE c.cum >= CAST(ceil(q.q * c.total) AS BIGINT)
)
SELECT event_type, q, rank, CAST(total AS BIGINT) AS total,
       CAST(min(bucket) AS INTEGER) AS bucket,
       CAST({_QH_LO} AS DOUBLE)
         + (min(bucket) + 1) * CAST({(_QH_HI - _QH_LO) / _QH_BINS} AS DOUBLE)
         AS q_est
FROM hit GROUP BY 1, 2, 3, 4
"""
_KMV_K = 64
def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-framework distinct-set INTERSECTION estimate
    (kgx.sketch.kmv_intersection, k=64): |click users ∩ purchase users|
    from two KMV sketches — the set operation HLL cannot answer (HLL
    merges under union only). The hash, the k-smallest selection, the
    threshold T, the match count, and the one-division estimate are all
    engine-exact, so the oracle reproduces est_intersection
    bit-for-bit; exact_intersection rides along to grade the sketch in
    the same result set."""
    from kgx import sketch

    return sketch.kmv_intersection(
        _t(spark, sf_dir, "events"),
        "user_id",
        "event_type",
        "click",
        "purchase",
        k=_KMV_K,
    )
SKETCH_KMV_SQL = """
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events WHERE event_type IN ('click', 'purchase')
),
r AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
),
sk AS (SELECT event_type, hv FROM r WHERE rn <= 64),
st AS (
  SELECT event_type, count(*) AS n, max(hv) AS mx FROM sk GROUP BY 1
),
th AS (
  SELECT min(CASE WHEN n >= 64 THEN mx
                  ELSE CAST(1152921504606846976 AS BIGINT) END) AS theta_t
  FROM st
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_matches
  FROM sk a JOIN sk b ON a.hv = b.hv
       AND a.event_type = 'click' AND b.event_type = 'purchase',
       th
  WHERE a.hv < th.theta_t
),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_intersection
  FROM (
    SELECT user_id FROM (
      SELECT DISTINCT event_type, user_id
      FROM events WHERE event_type IN ('click', 'purchase')
    ) GROUP BY user_id HAVING count(*) = 2
  )
)
SELECT CAST(64 AS INTEGER) AS k,
       CAST(th.theta_t AS BIGINT) AS theta_t,
       m.n_matches,
       CAST(m.n_matches AS DOUBLE) * 1152921504606846976.0
         / CAST(th.theta_t AS DOUBLE) AS est_intersection,
       ex.exact_intersection
FROM m, th, ex
"""
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed sub-document containment pairs (dedup.containment_pairs):
    C(src→dst) = |sh(src)∩sh(dst)|/|sh(src)| >= 0.9 — catches documents
    quoted whole inside longer ones, which symmetric Jaccard never
    flags. The corpus has no natural sub-documents, so (like
    dedup_exact's perturbed copies) docs with doc_id%10==7 get a
    deterministic half-length prefix twin (+2e9 id): its shingle set is
    a strict subset of the parent's → containment exactly 1.0 in the
    sub→parent direction while Jaccard ≈ 0.5 stays invisible to the
    near-dup family. Hot-shingle cap 400 on the candidate index,
    exact verification against full shingle arrays."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spl = F.split(F.col("text"), " ")
    sub = (
        docs.filter((F.col("doc_id") % 10 == 7) & (F.size(spl) >= 16))
        .select(
            (F.col("doc_id") + F.lit(2_000_000_000)).alias("doc_id"),
            F.array_join(
                F.slice(spl, F.lit(1), (F.size(spl) / F.lit(2)).cast("int")),
                " ",
            ).alias("text"),
        )
    )
    return dedup.containment_pairs(
        docs.unionByName(sub), n=5, threshold=0.9, max_df=_NGRAM_MAX_DF
    )
DEDUP_CONTAINMENT_SQL = f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000000,
         array_to_string(list_slice(string_split(text, ' '), 1,
                                    len(string_split(text, ' ')) // 2), ' ')
  FROM documents
  WHERE doc_id % 10 = 7 AND len(string_split(text, ' ')) >= 16
),
t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM src
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5 THEN
           list_distinct([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)])
         ELSE [array_to_string(toks, ' ')] END AS sh
  FROM t
),
inv AS (SELECT doc_id, unnest(sh) AS s FROM sh),
hot AS (SELECT s FROM inv GROUP BY s HAVING count(*) > {_NGRAM_MAX_DF}),
capped AS (SELECT inv.* FROM inv ANTI JOIN hot USING (s)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
),
v AS (
  SELECT c.id_a, c.id_b,
         len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
         len(sa.sh) AS na, len(sb.sh) AS nb
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
),
d AS (
  SELECT id_a AS src_id, id_b AS dst_id,
         CAST(inter AS DOUBLE) / na AS containment FROM v
  UNION ALL
  SELECT id_b, id_a, CAST(inter AS DOUBLE) / nb FROM v
)
SELECT src_id, dst_id, containment FROM d WHERE containment >= 0.9
"""
