"""LLM-data-pipeline extensions (SURVEY.md §2.3) over the `documents` and
`embeddings` tables: dedup family, similarity search, text analysis,
multimodal plumbing.

Oracle coverage: exact dedup, n-gram Jaccard, text stats, language ID,
cosine pairs, brute-force ANN and media features are fully
DuckDB-expressible.  The hash-sketch operators (MinHash LSH, SimHash,
hyperplane LSH, fingerprinting) depend on Spark's xxhash64/murmur3 and get
the driver's rows-only determinism check instead — by design, not omission.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from european_emissions_data_warehouse_spark.functions.text import (
    BPE_TOKEN_RE,
    EMAIL_RE,
    LANG_MARKERS,
    PHONE_RE,
    bpe_token_count,
    char_count,
    clean_text,
    mask_pii,
    predict_lang,
    punct_ratio,
    quality_score,
    rolling_fingerprint,
    stopword_ratio,
    ws_token_count,
)
from european_emissions_data_warehouse_spark.operators.dedup import (
    chunk_dedup,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from european_emissions_data_warehouse_spark.operators.sketches import (
    count_min_build,
    count_min_estimate,
)
from european_emissions_data_warehouse_spark.operators.tokenizer import (
    bpe_apply_merge,
    bpe_pair_counts,
)
from european_emissions_data_warehouse_spark.operators.multimodal import (
    documents_as_media,
    extract_media_features,
)
from european_emissions_data_warehouse_spark.operators.ranking import bm25_topk, tfidf_top_terms
from european_emissions_data_warehouse_spark.operators.similarity import (
    brute_force_topk,
    mutual_nn_pairs,
    cosine_neardup_pairs,
    ivf_topk,
    kmeans_exact,
    lsh_topk,
    semdedup_pairs,
)
from european_emissions_data_warehouse_spark.sources.readers import (
    load_table,
    spread_small_scan,
)


# --- dedup ------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(load_table(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = """
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY text
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-5-gram Jaccard near-dup pairs at threshold 0.4."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, k=5, unit="word", threshold=0.4)


ORACLE_NGRAM_JACCARD = r"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks FROM documents
), sh0 AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')
                        FOR i IN range(1, GREATEST(len(toks) - 4, 1) + 1)]) AS shingles
  FROM base
), sh AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_sh, UNNEST(shingles) AS shingle FROM sh0
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
         COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, n_inter / (n_a + n_b - n_inter) AS jaccard
FROM inter WHERE n_inter / (n_a + n_b - n_inter) >= 0.4
"""


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-shingle-capped near-dup pairs: shingles appearing in more than
    20 documents are dropped before the inverted-index self-join
    (operators/dedup.py ngram_jaccard_pairs max_df) — the guard that keeps
    a viral boilerplate shingle from becoming an m² hot join key on a web
    corpus.  The capped jaccard is a conservative underestimate; the oracle
    applies the identical cap."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, k=5, unit="word", threshold=0.4, max_df=20)


ORACLE_NGRAM_JACCARD_CAPPED = r"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks FROM documents
), sh0 AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')
                        FOR i IN range(1, GREATEST(len(toks) - 4, 1) + 1)]) AS shingles
  FROM base
), sh AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_sh, UNNEST(shingles) AS shingle FROM sh0
), capped AS (
  SELECT doc_id, n_sh, shingle FROM (
    SELECT doc_id, n_sh, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh
  ) WHERE df <= 20
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
         COUNT(*) AS n_inter
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, n_inter / (n_a + n_b - n_inter) AS jaccard
FROM inter WHERE n_inter / (n_a + n_b - n_inter) >= 0.4
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clusters*: exact n-gram Jaccard pairs (threshold 0.4) fed
    into connected components (operators/dedup.py connected_components) —
    the step that turns pair evidence into dedup groups.  The oracle
    replays it as a DuckDB recursive CTE."""
    from european_emissions_data_warehouse_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=5, unit="word", threshold=0.4)
    comps = connected_components(pairs)
    return comps.select(F.col("id").alias("doc_id"), "component").orderBy("doc_id")


ORACLE_DEDUP_COMPONENTS = r"""
WITH RECURSIVE base AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks FROM documents
), sh0 AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')
                        FOR i IN range(1, GREATEST(len(toks) - 4, 1) + 1)]) AS shingles
  FROM base
), sh AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_sh, UNNEST(shingles) AS shingle FROM sh0
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
         COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), pairs AS (
  SELECT id_a, id_b FROM inter WHERE n_inter / (n_a + n_b - n_inter) >= 0.4
), sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b AS a, id_a AS b FROM pairs
), reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
FROM reach GROUP BY a ORDER BY doc_id
"""


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, graded as a recall verdict.  The
    banded-signature candidates (32 hashes, 8 bands, steep around jaccard
    ~0.4) are xxhash64-seeded — deterministic but not SQL-expressible — so
    the query joins them against the EXACT >=0.9-Jaccard truth set and
    emits the truth-set size (cross-engine-checkable) plus a recall>=0.85
    boolean.  No RNG anywhere: measured recall is 26/27 at sf0.001 and
    22/24 at sf0.01, stable across runs, so the verdict is deterministic.

    The docs scan is materialized once (lazy localCheckpoint): the truth
    and candidate pipelines otherwise each re-scan and re-tokenize the
    corpus (~20% wall saved at sf0.1).  `truth` — the dominant cost, a
    word-5-gram inverted-index self-join — feeds TWO aggregate branches
    (the hits semi-join and n_true_pairs); its own checkpoint makes the
    single-execution unconditional rather than hoping exchange reuse
    fires (code-review r4)."""
    docs = load_table(spark, sf_dir, "documents").localCheckpoint(eager=False)
    truth = (
        ngram_jaccard_pairs(docs, k=5, unit="word", threshold=0.9)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    cand = minhash_lsh_pairs(docs, threshold=0.35).select("id_a", "id_b")
    hits = truth.join(cand, ["id_a", "id_b"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("__n_hit")))
        .select(
            "n_true_pairs",
            (F.col("__n_hit") >= F.col("n_true_pairs") * 0.85)
            .cast("bigint")
            .alias("recall_ok"),
        )
    )


_ORACLE_TRUE_PAIRS_09 = r"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks FROM documents
), sh0 AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')
                        FOR i IN range(1, GREATEST(len(toks) - 4, 1) + 1)]) AS shingles
  FROM base
), sh AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_sh, UNNEST(shingles) AS shingle FROM sh0
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
         COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b FROM inter WHERE n_inter / (n_a + n_b - n_inter) >= 0.9
"""

ORACLE_MINHASH_NEARDUP = f"""
WITH truth AS ({_ORACLE_TRUE_PAIRS_09})
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs, CAST(1 AS BIGINT) AS recall_ok
FROM truth
"""


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming<=6 near-dup detection, graded as a recall verdict
    (same protocol as q_minhash_neardup: fingerprints are xxhash64-based,
    so the emitted signal is the exact >=0.9-Jaccard truth-set size plus a
    deterministic recall>=0.85 boolean; measured 26/27 at sf0.001, 24/24
    at sf0.01).  Shared docs scan + two-consumer truth pipeline
    checkpointed as in q_minhash_neardup (code-review r4)."""
    docs = load_table(spark, sf_dir, "documents").localCheckpoint(eager=False)
    truth = (
        ngram_jaccard_pairs(docs, k=5, unit="word", threshold=0.9)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    cand = simhash_pairs(docs, max_hamming=6).select("id_a", "id_b")
    hits = truth.join(cand, ["id_a", "id_b"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("__n_hit")))
        .select(
            "n_true_pairs",
            (F.col("__n_hit") >= F.col("n_true_pairs") * 0.85)
            .cast("bigint")
            .alias("recall_ok"),
        )
    )


ORACLE_SIMHASH_NEARDUP = ORACLE_MINHASH_NEARDUP


# --- similarity search ------------------------------------------------------


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors as queries."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = brute_force_topk(queries, emb, k=5)
    return out.select("query_id", "rank", "neighbor_id", F.round("sim", 4).alias("sim"))


ORACLE_ANN_TOPK = """
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings
), scored AS (
  SELECT qid AS query_id, nid AS neighbor_id,
         list_dot_product(qv, cv)
           / (GREATEST(sqrt(list_dot_product(qv, qv)), 1e-150) * GREATEST(sqrt(list_dot_product(cv, cv)), 1e-150)) AS sim
  FROM c, q WHERE nid != qid
)
SELECT query_id, CAST(rnk AS BIGINT) AS "rank", neighbor_id, ROUND(sim, 4) AS sim
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= 5
"""


def _ann_verdict(
    queries: DataFrame,
    corpus: DataFrame,
    approx: DataFrame,
    min_hits: int,
    top1_sim: DataFrame | None = None,
) -> DataFrame:
    """Shared ANN grading: per query, the EXACT top-1 cosine (the real
    cross-engine value check) plus two booleans — the approximate top-1
    never exceeds the exact top-1 (guaranteed: exact top-1 is the max over
    the whole corpus), and recall@5 vs the exact top-5 clears ``min_hits``
    (deterministic: hyperplanes/centroids derive from xxhash64, no RNG).

    ``top1_sim``: optional (query_id, __approx1) override for the bound
    check.  ADC-ranked methods (IVF-PQ) pass the TRUE cosine of their
    chosen top-1 here — reconstruction error can INFLATE the raw ADC sim
    past the exact top-1, so the bound is only valid on the re-scored
    value (one shared scaffolding instead of a per-query copy;
    code-review r4)."""
    exact = brute_force_topk(queries, corpus, k=5)
    e1 = exact.filter(F.col("rank") == 1).select(
        "query_id", F.col("sim").alias("__exact1")
    )
    a1 = (
        top1_sim
        if top1_sim is not None
        else approx.filter(F.col("rank") == 1).select(
            "query_id", F.col("sim").alias("__approx1")
        )
    )
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__n_hit"))
    )
    return (
        e1.join(a1, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.round("__exact1", 4).alias("exact_top1_sim"),
            F.coalesce(
                F.col("__approx1") <= F.col("__exact1") + 1e-9, F.lit(True)
            )
            .cast("bigint")
            .alias("top1_bounded"),
            (F.coalesce(F.col("__n_hit"), F.lit(0)) >= min_hits)
            .cast("bigint")
            .alias("recall5_ok"),
        )
        .orderBy("query_id")
    )


_ORACLE_ANN_VERDICT = """
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings
), scored AS (
  SELECT qid AS query_id, nid AS neighbor_id,
         list_dot_product(qv, cv)
           / (GREATEST(sqrt(list_dot_product(qv, qv)), 1e-150) * GREATEST(sqrt(list_dot_product(cv, cv)), 1e-150)) AS sim
  FROM c, q WHERE nid != qid
), r1 AS (
  SELECT query_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, ROUND(sim, 4) AS exact_top1_sim,
       CAST(1 AS BIGINT) AS top1_bounded, CAST(1 AS BIGINT) AS recall5_ok
FROM r1 WHERE rnk = 1 ORDER BY query_id
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5, graded as an exact-top1 + bound +
    recall verdict (hyperplanes derive from xxhash64 — deterministic but
    not SQL-expressible; measured per-query recall@5 is >=4/5 at both SFs,
    graded at >=3/5)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = lsh_topk(queries, emb, dim=64, k=5, n_planes=16, bands=8)
    return _ann_verdict(queries, emb, out, min_hits=3)


ORACLE_ANN_LSH = _ORACLE_ANN_VERDICT


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 (deterministic k-means inverted lists, 4-of-16
    probes), graded as an exact-top1 + bound + recall verdict (measured
    per-query recall@5 is >=3/5 at both SFs, graded at >=2/5)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = ivf_topk(queries, emb, k=5, n_centroids=16, n_probe=4)
    return _ann_verdict(queries, emb, out, min_hits=2)


ORACLE_ANN_IVF = _ORACLE_ANN_VERDICT


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-5 (operators/similarity.ivfpq_topk): coarse
    inverted lists + product-quantized residuals, ranked by asymmetric
    distance against reconstructions only.  Same verdict columns as the
    other ANN entries, with one twist: the ADC sim itself is approximate
    (reconstruction error can INFLATE it past the exact top-1), so the
    bound is checked on the TRUE cosine of the chosen top-1.  The serve
    runs the full production two-stage shape: ADC culls each query's
    probed lists to a 100-candidate pool, which is re-ranked on the
    ORIGINAL vectors (point lookups by id) — without the re-rank pass,
    128x compression on these weak-signal embeddings buries true
    neighbors past rank 5 even when the probes find their lists (r4
    measurement: recall@5 went to 0 for 3/10 queries at sf0.1 on ADC
    order alone; with n_probe=3 + rerank=100 every query recalls >=1 at
    sf0.001/0.01/0.1).  Recall is graded at >=1/5 per query;
    deterministic, no RNG anywhere."""
    from european_emissions_data_warehouse_spark.functions.vectors import cosine
    from european_emissions_data_warehouse_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = ivfpq_topk(
        queries, emb, dim=64, k=5, n_centroids=8, n_probe=3, rerank=100
    )
    # true cosine of the ADC winner (re-rank view) — validly bounded
    corpus_vecs = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_vec")
    )
    q_vecs = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    a1 = (
        # the top-1 frame is <= |queries| rows BY CONSTRUCTION but comes
        # out of joins/windows the planner has no size stats for — without
        # the hint it planned a sort-merge join that shuffled the ENTIRE
        # embeddings corpus on neighbor_id to look up a handful of rows
        # (code-review r4, scale pass; bounded frame, so the hint is safe
        # at every scale, unlike the SF-proportional dims)
        F.broadcast(out.filter(F.col("rank") == 1))
        .join(corpus_vecs, "neighbor_id")
        .join(F.broadcast(q_vecs), "query_id")
        .select("query_id", cosine(F.col("q_vec"), F.col("n_vec")).alias("__approx1"))
    )
    return _ann_verdict(queries, emb, out, min_hits=1, top1_sim=a1)


ORACLE_ANN_IVFPQ = _ORACLE_ANN_VERDICT


def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine pairs >= 0.3 over a deterministic 10% subsample —
    the embedding-space near-dup operator (threshold is corpus-tuned; this
    synthetic corpus tops out ~0.4)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    out = cosine_neardup_pairs(emb, threshold=0.3)
    return out.select("id_a", "id_b", F.round("sim", 4).alias("sim"))


ORACLE_COSINE_PAIRS = """
WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 10 = 0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b.v)
         / (GREATEST(sqrt(list_dot_product(a.v, a.v)), 1e-150) * GREATEST(sqrt(list_dot_product(b.v, b.v)), 1e-150)), 4) AS sim
FROM s a, s b
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.v, b.v)
        / (GREATEST(sqrt(list_dot_product(a.v, a.v)), 1e-150) * GREATEST(sqrt(list_dot_product(b.v, b.v)), 1e-150)) >= 0.3
"""


# --- text analysis ----------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts + quality heuristics — pure JVM expressions
    (scan-speed at any scale).  The whole query is one narrow regex-dense
    pass, so its parallelism is the scan's split count — spread_small_scan
    guards the under-split case (measured 0.67 -> 0.25 s at sf0.1, no-op on
    an amply-split source)."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    t = F.col("text")
    return docs.select(
        "doc_id",
        char_count(t).alias("n_chars_text"),
        ws_token_count(t).alias("ws_tokens"),
        bpe_token_count(t).alias("bpe_tokens"),
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t).alias("stop_ratio"),
        quality_score(t).alias("quality"),
    )


ORACLE_TEXT_STATS = r"""
WITH m AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars_text,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) END AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
         -- NULL text propagates NULL (engine null policy, code-review r4)
         CASE WHEN text IS NULL THEN NULL
              WHEN length(text) > 0 THEN len(regexp_extract_all(text, '[^\s\p{L}\p{N}]')) / length(text) ELSE 0.0 END AS punct_ratio,
         -- LEAST-clamped like the engine: \b-hits inside one hyphenated
         -- token can exceed the whitespace-token count.  Guarded on the
         -- FILTERED token count, not length(trim()): trim strips only
         -- 0x20, so tab-only text slipped past the length guard into a
         -- 0/0 = NULL quotient that LEAST (which SKIPS nulls) turned into
         -- a fabricated 1.0 (code-review r4, second pass)
         CASE WHEN text IS NULL THEN NULL
              WHEN len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) = 0 THEN 0.0
              ELSE LEAST(1.0, len(regexp_extract_all(lower(text),
                  '\b(the|and|of|to|is|in|that|for|with|was)\b'))
                / len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))) END AS stop_ratio
  FROM documents
)
SELECT doc_id, n_chars_text, ws_tokens, bpe_tokens, punct_ratio, stop_ratio,
       ((CASE WHEN n_chars_text >= 100 THEN 1.0 ELSE n_chars_text / 100.0 END)
        + (CASE WHEN punct_ratio <= 0.2 THEN 1.0
                ELSE GREATEST(0.0, 1.0 - (punct_ratio - 0.2) * 2) END)
        + LEAST(1.0, stop_ratio * 4)) / 3 AS quality
FROM m
"""


def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning + PII-masking pass: whitespace/control normalization, then
    email/phone redaction — the standard pre-training scrub, all JVM regexp.
    Output keeps lengths so the oracle can check the transform bothways.
    spread_small_scan: the 4-regex chain is the whole query and runs
    pre-exchange — measured 0.27 -> 0.13 s at sf0.1 on the 1-split scan."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    cleaned = mask_pii(clean_text(F.col("text")))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("len_raw"),
        F.length(cleaned).cast("long").alias("len_clean"),
        F.substring(cleaned, 1, 80).alias("head"),
    )


ORACLE_TEXT_CLEAN = r"""
WITH c AS (
  SELECT doc_id, length(text) AS len_raw,
         regexp_replace(
           regexp_replace(
             trim(regexp_replace(
               regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'),
               '\s+', ' ', 'g')),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\+?[0-9](?:[()\- ]?[0-9]){6,15}', '<PHONE>', 'g') AS cleaned
  FROM documents
)
SELECT doc_id, CAST(len_raw AS BIGINT) AS len_raw,
       CAST(length(cleaned) AS BIGINT) AS len_clean,
       substr(cleaned, 1, 80) AS head
FROM c
"""


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-corpus pipeline — clean/mask -> quality filter
    -> exact dedup (keep smallest id per cleaned text) -> token budget.
    One narrow pass plus the dedup's single hash shuffle; each stage is the
    operator tested individually elsewhere, composed here end-to-end.
    The dedup window partitions on the 128-bit content_keys hash pair, not
    the cleaned text itself — and every text-derived output column
    (bpe_tokens, quality, the collision-check length) is computed BEFORE
    the exchange, so the shuffle moves a handful of numeric columns and no
    document bodies at all (VERDICT r2 item #2, tightened: previously the
    cleaned text rode the exchange to feed the post-dedup token count)."""
    from european_emissions_data_warehouse_spark.operators.dedup import content_keys

    # the regex-dense projection below runs pre-exchange at scan-split
    # parallelism; spread_small_scan guards the under-split case
    # (measured 0.89 -> 0.59 s at sf0.1, no-op on an amply-split source)
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    ctext = mask_pii(clean_text(F.col("text")))
    h1, h2 = content_keys(ctext)
    # ONE projection computes every text-derived column, so runtime
    # subexpression elimination evaluates the 4-regex clean/mask chain once
    # per row.  The quality filter must NOT sit between this projection and
    # the aggregate: the optimizer pushes such a filter back through the
    # projection by substitution, re-expanding the clean chain ~15x inside
    # the Filter condition (the r9 before-plan's Filter node was 6 KB of
    # nested regexp_replace; each row paid the chain at least twice).
    # Because quality is a pure function of ctext and the group key is
    # ctext's 128-bit hash, quality is group-constant, so filtering on the
    # aggregated _q AFTER the groupBy keeps the exact same groups — and a
    # predicate on an aggregate output cannot be pushed below the
    # aggregation.  Measured 4.2-4.8 s -> ~1.1 s at sf0.1, bit-identical
    # output (optimization r9, guide §1.2 step 1 / §7.2 duplicated-subtree
    # check).
    hashed = docs.select(
        "doc_id",
        quality_score(ctext).alias("quality"),
        bpe_token_count(ctext).alias("bpe_tokens"),
        F.length(ctext).alias("_len"),
        h1.alias("_h1"),
        h2.alias("_h2"),
    )
    # one groupBy aggregate, not row_number + min + max windows over the
    # same hash partitioning: the window trio shuffled AND SORTED every
    # surviving row to keep one per group (the max_df lesson, round 6).
    # Component-wise MIN, not min_by(struct, doc_id): every aggregated
    # column is a pure function of ctext and the group key is ctext's
    # 128-bit hash, so the values are group-constant and the component
    # mins ARE the min-doc_id row's values (the _lmin = _lmax collision
    # guard below still protects the assumption).  min_by over a struct
    # forced SortAggregate — both sides of the exchange sorted the full
    # corpus; primitive mins keep the whole aggregation a HashAggregate
    # with map-side partials and nothing sorted (optimization r9).
    deduped = hashed.groupBy("_h1", "_h2").agg(
        F.min("doc_id").alias("_keep_id"),
        F.min("bpe_tokens").alias("_bpe"),
        F.min("quality").alias("_q"),
        F.min("_len").alias("_lmin"),
        F.max("_len").alias("_lmax"),
    )
    return deduped.filter(F.col("_q") >= 0.5).select(
        # the collision check feeds doc_id so the optimizer cannot prune it
        F.when(F.col("_lmin") == F.col("_lmax"), F.col("_keep_id"))
        .otherwise(
            F.raise_error(F.lit("corpus_prep: 128-bit content-hash collision")).cast("long")
        )
        .alias("doc_id"),
        F.col("_bpe").alias("bpe_tokens"),
        F.round(F.col("_q"), 6).alias("quality"),
    )


ORACLE_CORPUS_PREP = r"""
WITH cleaned AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             trim(regexp_replace(
               regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'),
               '\s+', ' ', 'g')),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\+?[0-9](?:[()\- ]?[0-9]){6,15}', '<PHONE>', 'g') AS ctext
  FROM documents
), m AS (
  SELECT doc_id, ctext,
         length(ctext) AS n_chars,
         len(regexp_extract_all(ctext, '[^\s\p{L}\p{N}]')) / length(ctext) AS punct_ratio,
         len(regexp_extract_all(lower(ctext),
             '\b(the|and|of|to|is|in|that|for|with|was)\b'))
           / (CASE WHEN length(trim(ctext)) = 0 THEN 0
                   ELSE len(list_filter(string_split_regex(trim(ctext), '\s+'), t -> t <> '')) END) AS stop_ratio
  FROM cleaned
), q AS (
  SELECT doc_id, ctext,
         ((CASE WHEN n_chars >= 100 THEN 1.0 ELSE n_chars / 100.0 END)
          + (CASE WHEN punct_ratio <= 0.2 THEN 1.0
                  ELSE GREATEST(0.0, 1.0 - (punct_ratio - 0.2) * 2) END)
          + LEAST(1.0, stop_ratio * 4)) / 3 AS quality
  FROM m
), kept AS (
  SELECT * FROM q WHERE quality >= 0.5
  QUALIFY ROW_NUMBER() OVER (PARTITION BY ctext ORDER BY doc_id) = 1
)
SELECT doc_id,
       CAST(len(regexp_extract_all(ctext, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
       ROUND(quality, 6) AS quality
FROM kept
"""


# --- corpus quality / decontamination ----------------------------------------


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 7 != 0) sharing
    at least one word-8-gram with the held-out eval slice (doc_id % 7 == 0)
    — the GPT-3-style exact n-gram overlap screen.  The eval gram set is
    broadcast (operators/dedup.py), so the training corpus never shuffles;
    grams travel as 62-bit rolling-hash identities, never strings.  Both
    sides are %7 partitions of ONE table, so the partitioned form builds
    the shingle index once and filters it — one corpus scan/tokenize pass
    instead of two (r9 optimization; rows identical, shingle_index is
    per-document)."""
    from european_emissions_data_warehouse_spark.operators.dedup import (
        contamination_overlap_partitioned,
    )

    docs = load_table(spark, sf_dir, "documents")
    return contamination_overlap_partitioned(
        docs, lambda id_c: id_c % 7 == 0, k=8, unit="word"
    ).select(
        F.col("id").alias("doc_id"), "n_grams", "n_shared_grams", "shared_frac"
    )


ORACLE_DECONTAMINATE = r"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks FROM documents
), sh0 AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')
                        FOR i IN range(1, GREATEST(len(toks) - 7, 1) + 1)]) AS shingles
  FROM base
), sh AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_sh, UNNEST(shingles) AS shingle FROM sh0
), eval_grams AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 7 = 0
)
SELECT s.doc_id,
       MIN(s.n_sh) AS n_grams,
       COUNT(*) AS n_shared_grams,
       COUNT(*) / MIN(s.n_sh) AS shared_frac
FROM sh s JOIN eval_grams e USING (shingle)
WHERE s.doc_id % 7 <> 0
GROUP BY s.doc_id
"""


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition screen (operators/quality.py):
    word totals, distinct-word and top-unigram/bigram concentrations.  One
    token explode; every aggregate shuffles on the doc id."""
    from european_emissions_data_warehouse_spark.operators.quality import repetition_signals

    docs = load_table(spark, sf_dir, "documents")
    return repetition_signals(docs).withColumnRenamed("id", "doc_id")


ORACLE_REPETITION_SIGNALS = r"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks FROM documents
), uni AS (
  SELECT doc_id, w, COUNT(*) AS c
  FROM (SELECT doc_id, UNNEST(toks) AS w FROM base)
  WHERE w != ''
  GROUP BY doc_id, w
), uni_stats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         COUNT(*) AS n_distinct_words,
         MAX(c) AS top_word_n
  FROM uni GROUP BY doc_id
), big AS (
  SELECT doc_id, bg, COUNT(*) AS c
  FROM (SELECT doc_id, UNNEST([toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]
                               FOR i IN range(1, GREATEST(len(toks) - 1, 0) + 1)]) AS bg
        FROM base)
  GROUP BY doc_id, bg
), big_stats AS (
  SELECT doc_id, MAX(c) AS top_bigram_n FROM big GROUP BY doc_id
)
SELECT u.doc_id, n_words, n_distinct_words, top_word_n,
       COALESCE(top_bigram_n, 0) AS top_bigram_n,
       (n_words - n_distinct_words) / n_words AS dup_word_frac,
       top_word_n / n_words AS top_word_frac,
       CASE WHEN n_words > 1 THEN COALESCE(top_bigram_n, 0) / (n_words - 1) END AS top_bigram_frac
FROM uni_stats u LEFT JOIN big_stats b USING (doc_id)
"""


def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-rarity screen (operators/quality.py): mean corpus document
    frequency of each doc's tokens — the engine-reproducible unigram-LM
    stand-in.  The vocab DF table is broadcast; the corpus never shuffles
    on the (stopword-skewed) token key."""
    from european_emissions_data_warehouse_spark.operators.quality import token_rarity

    docs = load_table(spark, sf_dir, "documents")
    return token_rarity(docs).withColumnRenamed("id", "doc_id")


ORACLE_TOKEN_RARITY = r"""
WITH toks AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS w FROM documents)
  WHERE w != ''
), df_tab AS (
  SELECT w, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, w FROM toks) GROUP BY w
)
SELECT t.doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(d.df) AS BIGINT) AS sum_df,
       CAST(SUM(d.df) AS BIGINT) / COUNT(*) AS avg_token_df
FROM toks t JOIN df_tab d USING (w)
GROUP BY t.doc_id
"""


def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture report (operators/quality.py): per-source doc/token
    totals and each source's share of the corpus token budget — the input
    to any sampling schedule.  Exact-integer shares, one group-key shuffle
    plus a broadcast grand total."""
    from european_emissions_data_warehouse_spark.operators.quality import source_mixture

    docs = load_table(spark, sf_dir, "documents")
    return source_mixture(docs)


ORACLE_SOURCE_MIXTURE = r"""
-- COALESCE + zero-total guard lockstep with operators/quality.py
-- source_mixture: all-NULL sources count 0 tokens, and a zero-token
-- corpus reports NULL share instead of dividing by zero (code-review r4)
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(COALESCE(SUM(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                       ELSE len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END), 0) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per
)
SELECT source, n_docs, n_tokens,
       CASE WHEN t > 0 THEN n_tokens / t END AS token_share,
       n_tokens / n_docs AS tokens_per_doc
FROM per, tot
"""


def q_lang_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID vs the labeled `lang` column.  Marker hits are
    extracted in ONE combined regexp pass, materialized, then classified
    with in-row set filters (functions/text.py marker_hits)."""
    from european_emissions_data_warehouse_spark.functions.text import marker_hits

    docs = load_table(spark, sf_dir, "documents")
    with_hits = docs.select(
        "doc_id", "lang", marker_hits(F.col("text")).alias("__hits")
    )
    pred = predict_lang(F.col("__hits"))
    return with_hits.select(
        "doc_id",
        pred.alias("pred_lang"),
        "lang",
        (pred == F.col("lang")).alias("is_match"),
    )


_LANG_HITS_SQL = {
    # COALESCE: NULL text must count ZERO marker hits, not NULL — the NULL
    # counts skipped every CASE comparison and fell through to the ELSE
    # branch ('zh') where the engine says 'und' (round-5 fuzz gate)
    lang: f"COALESCE(len(regexp_extract_all(lower(text), '{pat}')), 0)"
    for lang, pat in LANG_MARKERS.items()
}

ORACLE_LANG_PREDICT = rf"""
WITH hits AS (
  SELECT doc_id, lang,
         {_LANG_HITS_SQL['en']} AS h_en,
         {_LANG_HITS_SQL['de']} AS h_de,
         {_LANG_HITS_SQL['fr']} AS h_fr,
         {_LANG_HITS_SQL['es']} AS h_es,
         {_LANG_HITS_SQL['zh']} AS h_zh
  FROM documents
), pred AS (
  SELECT doc_id, lang,
         CASE WHEN GREATEST(h_en, h_de, h_fr, h_es, h_zh) = 0 THEN 'und'
              WHEN h_en = GREATEST(h_en, h_de, h_fr, h_es, h_zh) THEN 'en'
              WHEN h_de = GREATEST(h_de, h_fr, h_es, h_zh) THEN 'de'
              WHEN h_fr = GREATEST(h_fr, h_es, h_zh) THEN 'fr'
              WHEN h_es = GREATEST(h_es, h_zh) THEN 'es'
              ELSE 'zh' END AS pred_lang
  FROM hits
)
SELECT doc_id, pred_lang, lang, pred_lang = lang AS is_match FROM pred
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprint, graded by structural invariants:
    the 4 minima are xxhash64 values (not SQL-expressible), but their COUNT
    equals least(4, distinct char-8-shingles) — an exact cross-engine check
    of the shingling + selection plumbing — and they are ascending-sorted
    by construction."""
    docs = load_table(spark, sf_dir, "documents")
    fp = rolling_fingerprint(F.col("text"), k=8, w=4)
    fpc = F.col("__fp")
    return (
        docs.select("doc_id", fp.alias("__fp"))
        .select(
            "doc_id",
            # NULL text -> empty fingerprint (0 minima, vacuously sorted):
            # the oracle's list_distinct drops the NULL shingle to [] and
            # its fp_sorted literal is 1 — lockstep via coalesce (fuzz gate)
            F.coalesce(F.size(fpc).cast("bigint"), F.lit(0)).alias("n_fp"),
            F.coalesce(
                (fpc == F.array_sort(fpc)).cast("bigint"), F.lit(1)
            ).alias("fp_sorted"),
        )
        .orderBy("doc_id")
    )


ORACLE_DOC_FINGERPRINT = """
WITH s AS (
  SELECT doc_id,
         len(list_distinct([substr(text, CAST(i AS INT), 8)
                            FOR i IN range(1, GREATEST(length(text) - 7, 1) + 1)])) AS n_sh
  FROM documents
)
SELECT doc_id, CAST(LEAST(4, n_sh) AS BIGINT) AS n_fp, CAST(1 AS BIGINT) AS fp_sorted
FROM s ORDER BY doc_id
"""


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized-Python surface: per-embedding stats via an Arrow-batched
    pandas UDF (functions/vectors.py) — the template for numerics beyond the
    built-in HOFs.  Sequential float64 accumulation keeps it bit-exact vs
    the DuckDB oracle."""
    from european_emissions_data_warehouse_spark.functions.vectors import embedding_stats_udf

    emb = load_table(spark, sf_dir, "embeddings")
    stats = embedding_stats_udf()(F.col("embedding")).alias("s")
    return emb.select("vec_id", stats).select(
        "vec_id",
        F.round("s.l2_norm", 6).alias("l2_norm"),
        # + 0.0 normalizes IEEE signed zero: a tiny-negative mean rounds
        # to -0.0 in one engine and +0.0 in the other (denormal vectors,
        # round-5 fuzz gate); -0.0 + 0.0 = +0.0 by IEEE-754 in both
        (F.round("s.mean", 6) + F.lit(0.0)).alias("vec_mean"),
        F.round("s.absmax", 6).alias("vec_absmax"),
    )


ORACLE_EMBEDDING_STATS = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT vec_id,
       ROUND(sqrt(list_dot_product(e, e)), 6) AS l2_norm,
       ROUND(list_sum(e) / len(e), 6) + 0.0 AS vec_mean,
       ROUND(list_max(list_transform(e, x -> abs(x))), 6) AS vec_absmax
FROM v
"""


# --- multimodal -------------------------------------------------------------


def _media_en_docs(docs: DataFrame) -> DataFrame:
    """The shared parity domain of the three media queries (features /
    frames / resize) — ONE definition so engine and oracle can never
    drift per-query (round-5 code review):

    - NULL payloads are a documented hard error in the media ops
      (_reject_null_payloads); the queries honor the contract by
      filtering at the source.
    - octet_length == length pins the byte==char domain EXPLICITLY
      instead of trusting lang=en to imply ASCII — the fuzz fixture
      plants unicode text on en rows, and the fake checksum mixes BYTES
      while the oracle can only address CHARACTERS (round-5 fuzz gate).

    The oracles share the same predicate via _MEDIA_EN_WHERE."""
    return docs.filter(
        (F.col("lang") == "en")
        & F.col("text").isNotNull()
        & (F.octet_length("text") == F.length("text"))
    )


_MEDIA_EN_WHERE = (
    "lang = 'en' AND text IS NOT NULL"
    " AND octet_length(encode(text)) = length(text)"
)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing end-to-end: documents re-typed as media assets
    (utf-8 payload), features extracted via Arrow-batched mapInPandas with
    the deterministic fake codec (real codecs absent in this container —
    operators/multimodal.py).  Restricted to lang=en like the sibling
    media queries: the fake checksum mixes the first/last UTF-8 BYTE of
    the payload while the oracle can only address CHARACTERS (ascii() of
    a code point), so parity is only defined where byte == char — an
    unfiltered run depended on the other langs' fixtures happening to be
    pure ASCII (code-review r4)."""
    docs = _media_en_docs(load_table(spark, sf_dir, "documents"))
    media = documents_as_media(docs)
    return extract_media_features(media, fake=True)


ORACLE_MEDIA_FEATURES = f"""
SELECT doc_id AS asset_id,
       'text/plain' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
       CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height,
       CAST(octet_length(encode(text))
            + ascii(substr(text, 1, 1)) * 31
            + ascii(substr(text, length(text), 1)) AS BIGINT) AS checksum
FROM documents WHERE {_MEDIA_EN_WHERE}
"""


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (operators/multimodal.py sample_frames):
    ASCII documents as fake media payloads, 64-byte frames, every 2nd kept,
    one row per sampled frame with a content digest.  Restricted to lang=en
    so the oracle can slice by character (byte == char for ASCII)."""
    from european_emissions_data_warehouse_spark.operators.multimodal import (
        sample_frames,
    )

    docs = _media_en_docs(load_table(spark, sf_dir, "documents"))
    media = documents_as_media(docs)
    return sample_frames(media, frame_size=64, every=2, fake=True).orderBy(
        "asset_id", "frame_no"
    )


ORACLE_MEDIA_FRAMES = f"""
WITH en AS (
  SELECT doc_id, text FROM documents WHERE {_MEDIA_EN_WHERE}
), idx AS (
  -- no GREATEST floor: an empty payload has ZERO frames, lockstep with
  -- sample_frames (code-review r4, operators pass)
  SELECT doc_id, text,
         unnest(range(0, CAST(CEIL(length(text) / 64.0) AS BIGINT), 2)) AS fi
  FROM en
)
SELECT doc_id AS asset_id, fi AS frame_no,
       CAST(length(substr(text, CAST(fi * 64 AS INT) + 1, 64)) AS BIGINT) AS frame_bytes,
       md5(substr(text, CAST(fi * 64 AS INT) + 1, 64)) AS frame_md5
FROM idx ORDER BY asset_id, frame_no
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing (operators/multimodal.py resize_media): ASCII
    documents as fake media payloads, byte-strided down to <=256 bytes,
    one row per asset with in/out sizes and a content digest.  Restricted
    to lang=en so the oracle can stride by character (byte == char for
    ASCII)."""
    from european_emissions_data_warehouse_spark.operators.multimodal import (
        resize_media,
    )

    docs = _media_en_docs(load_table(spark, sf_dir, "documents"))
    media = documents_as_media(docs)
    return resize_media(media, target_bytes=256, fake=True).orderBy("asset_id")


ORACLE_MEDIA_RESIZE = f"""
WITH en AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE {_MEDIA_EN_WHERE}
), r AS (
  SELECT doc_id, n, GREATEST(1, CAST(CEIL(n / 256.0) AS BIGINT)) AS step, text FROM en
), strided AS (
  SELECT doc_id, n,
         -- COALESCE: DuckDB's comprehension-with-substr over an EMPTY
         -- range yields NULL, not []; an empty payload strides to an
         -- empty payload (round-5 fuzz gate)
         COALESCE(array_to_string([substr(text, CAST(i AS INT), 1)
                          FOR i IN range(1, CAST(n AS INT) + 1, CAST(step AS INT))], ''), '') AS out
  FROM r
)
SELECT doc_id AS asset_id, CAST(n AS BIGINT) AS n_in,
       CAST(length(out) AS BIGINT) AS n_out, md5(out) AS out_md5
FROM strided ORDER BY asset_id
"""


# --- training-batch construction ---------------------------------------------


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for training batches, sharded for scale:
    documents are salted into shards by doc id, each shard packs
    independently (deterministic doc order within the shard, running token
    cumsum, a pack boundary every 2048 tokens).  The cumsum window
    PARTITIONS by shard, so no single-partition sort exists anywhere in the
    plan — each shard's sort runs on its own reducer and the shard count
    scales with the cluster.  Packing quality is unchanged vs a global
    order (packs never mix shards, which training doesn't care about); a
    pack is identified by (shard, pack_id)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr(f"doc_id % {PACK_SHARDS}").alias("shard"),
        ws_token_count(F.col("text")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.withColumn(
        "tok_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("pack_id", F.expr("tok_before div 2048"))
    return (
        packed.groupBy("shard", "pack_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("pack_tokens"))
        .orderBy("shard", "pack_id")
    )


# FIXTURE-PINNED shard count: the oracle replays doc_id % 8 verbatim, so
# the graded query must match.  The shard count is the parallelism of the
# per-shard cumsum windows — a PRODUCTION caller sizes it to the cluster
# (≈ spark.sql.shuffle.partitions); 8 shards over a 100 TB corpus would
# funnel billions of rows through 8 sort tasks (code-review r4, scale
# pass).  The sharded-window SHAPE is the scale mechanism; this constant
# is only its test-scale setting.
PACK_SHARDS = 8

ORACLE_SEQUENCE_PACK = r"""
WITH toks AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) END AS n_tokens
  FROM documents
), c AS (
  SELECT shard, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
  FROM toks
)
SELECT shard, CAST(tok_before // 2048 AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
FROM c GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: 500-char windows on a 400-char stride
    (100-char overlap) via sequence+posexplode — the generator runs
    engine-side with no Python, and chunks are emitted as (len, md5) so the
    oracle proves content equality without shipping chunk bodies."""
    docs = load_table(spark, sf_dir, "documents")
    starts = docs.select(
        "doc_id",
        "text",
        F.posexplode(
            F.sequence(F.lit(0).cast("long"), F.greatest(F.col("n_chars") - 1, F.lit(0)), F.lit(400).cast("long"))
        ).alias("chunk_no", "start"),
    )
    chunks = starts.select(
        "doc_id",
        F.col("chunk_no").cast("long").alias("chunk_no"),
        F.expr("substring(text, CAST(start AS INT) + 1, 500)").alias("chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_no",
        F.length("chunk").cast("long").alias("chunk_len"),
        F.md5("chunk").alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_no")


ORACLE_DOC_CHUNKS = """
WITH starts AS (
  SELECT doc_id, text, unnest(range(0, GREATEST(n_chars, 1), 400)) AS start
  FROM documents
)
SELECT doc_id, start // 400 AS chunk_no,
       CAST(length(substr(text, CAST(start AS INT) + 1, 500)) AS BIGINT) AS chunk_len,
       md5(substr(text, CAST(start AS INT) + 1, 500)) AS chunk_md5
FROM starts ORDER BY doc_id, chunk_no
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long format: posexplode to
    (label, dim, component) triples, one partial-aggregable shuffle — scales
    to billions of vectors.  Components are fixed-point scaled (floor of
    x·2^20) before summing so the aggregate is an exact integer sum:
    order-independent, hence bit-reproducible across any partitioning and
    identical to the oracle (float sums are neither)."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    scaled = comp.select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("x").cast("double") * 1048576).alias("xs"),
    )
    return (
        scaled.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (F.sum("xs") / (F.count(F.lit(1)) * F.lit(1048576.0))).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


ORACLE_LABEL_CENTROIDS = """
WITH comp AS (
  SELECT label, unnest(range(len(embedding))) AS dim, embedding AS e FROM embeddings
), scaled AS (
  SELECT label, CAST(dim AS BIGINT) AS dim,
         CAST(FLOOR(CAST(e[CAST(dim AS INT) + 1] AS DOUBLE) * 1048576) AS BIGINT) AS xs
  FROM comp
)
SELECT label, dim, COUNT(*) AS n_vecs, SUM(xs) / (COUNT(*) * 1048576.0) AS centroid
FROM scaled GROUP BY label, dim ORDER BY label, dim
"""


# --- Python UDTF --------------------------------------------------------------


def q_sentence_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (the user-extensible table-function surface): segment
    each document into sentences, one output row per sentence with its word
    count, via LATERAL correlation in SQL.  Deliberately simple logic so the
    oracle can replay it; real segmenters drop into the same shape.  UDTFs
    are row-at-a-time Python — the slow path by design; batch text ops in
    this engine use built-ins (token_topk) or Arrow (media_features)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_no: long, n_words: long")
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:  # NULL doc -> no sentences (the oracle's
                return  # unnest(NULL) emits zero rows too; fuzz gate)
            sents = (s.strip(" ") for s in text.split("."))
            for i, s in enumerate(s for s in sents if s != ""):
                yield i + 1, len(s.split())

    spark.udtf.register("sentence_split", SentenceSplit)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT doc_id, s.sent_no, s.n_words
        FROM documents, LATERAL sentence_split(text) s
        """
    )


ORACLE_SENTENCE_UDTF = r"""
WITH toks AS (
  SELECT doc_id, string_split(text, '.') AS lst FROM documents
), pos AS (
  SELECT doc_id, unnest(range(len(lst))) AS i, lst FROM toks
), t AS (
  SELECT doc_id, i, trim(lst[i + 1]) AS s FROM pos
), ne AS (
  SELECT doc_id, i, s FROM t WHERE s != ''
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS sent_no,
       CAST(len(list_filter(string_split_regex(s, '\s+'), t -> t <> '')) AS BIGINT) AS n_words
FROM ne
"""


# --- sampling / splits -------------------------------------------------------


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 train/valid/test split by multiplicative key
    hash (operators/sampling.py split_by_hash): pure map-side integer
    arithmetic, no RNG — a document's split never changes as the corpus
    grows, and the oracle recomputes the identical assignment in SQL."""
    from european_emissions_data_warehouse_spark.operators.sampling import split_by_hash

    docs = load_table(spark, sf_dir, "documents")
    split = split_by_hash(docs.select("doc_id", "lang"), "doc_id")
    return (
        split.groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "lang")
    )


ORACLE_TRAIN_TEST_SPLIT = """
-- lockstep with sampling.hash_bucket: high key bits mixed into the low 30
-- (hi*48271 + lo) before the salt/multiply stages (code-review r4); for
-- the fixtures' sub-2^30 doc_ids hi = 0 and the mix is the identity
WITH k AS (
  SELECT doc_id, lang,
         ((doc_id % 1073741824) + 1073741824) % 1073741824 AS lo
  FROM documents
), mx AS (
  SELECT doc_id, lang,
         (((((doc_id - lo) // 1073741824) * 48271 + lo) % 1073741824 + 1073741824) % 1073741824) AS mixed
  FROM k
), b AS (
  SELECT doc_id, lang,
         ((((mixed + 40503) % 1073741824) * 2654516767) % 4294967296 // 64) % 100 AS bucket
  FROM mx
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'valid'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs
FROM b GROUP BY split, lang ORDER BY split, lang
"""


def q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling: keep each document with probability
    equal to its quality score, decided by deterministic key hash (bucket <
    quality·10000) — no RNG, so the curated subset is reproducible and
    grows monotonically with the corpus (operators/sampling.py hash_bucket;
    the standard pretraining-curation downsample where low-quality text is
    kept at reduced rate rather than hard-filtered)."""
    from european_emissions_data_warehouse_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", quality_score(F.col("text")).alias("quality")
    )
    return (
        # salt 52711 decorrelates the keep decision from split_by_hash's
        # train/valid/test buckets (shared-salt nested moduli made every
        # sampled doc a 'train' row — code-review r4)
        scored.withColumn("bucket", hash_bucket("doc_id", 10000, salt=52711))
        .filter(F.col("bucket") < F.col("quality") * 10000.0)
        .select("doc_id", "lang", "quality")
        .orderBy("doc_id")
    )


ORACLE_QUALITY_WEIGHTED_SAMPLE = r"""
-- bucket arithmetic lockstep with sampling.hash_bucket incl. the high-bit
-- mix (identity for sub-2^30 doc_ids), written as the same lo -> mixed ->
-- bucket chain as the sibling oracles so the formula exists in one shape
-- (code-review r4, second pass).  stop_ratio guards on the FILTERED token
-- count: tab-only text slipped past length(trim()) into a 0/0 = NULL that
-- LEAST (which SKIPS nulls) turned into a fabricated 1.0.
WITH m AS (
  SELECT doc_id, lang,
         CAST(length(text) AS BIGINT) AS n_chars_text,
         CASE WHEN text IS NULL THEN NULL
              WHEN length(text) > 0 THEN len(regexp_extract_all(text, '[^\s\p{L}\p{N}]')) / length(text) ELSE 0.0 END AS punct_ratio,
         CASE WHEN text IS NULL THEN NULL
              WHEN len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) = 0 THEN 0.0
              ELSE len(regexp_extract_all(lower(text),
                  '\b(the|and|of|to|is|in|that|for|with|was)\b'))
                / len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END AS stop_ratio,
         ((doc_id % 1073741824) + 1073741824) % 1073741824 AS lo
  FROM documents
), mx AS (
  SELECT doc_id, lang, n_chars_text, punct_ratio, stop_ratio,
         (((((doc_id - lo) // 1073741824) * 48271 + lo) % 1073741824 + 1073741824) % 1073741824) AS mixed
  FROM m
), q AS (
  SELECT doc_id, lang,
         ((CASE WHEN n_chars_text >= 100 THEN 1.0 ELSE n_chars_text / 100.0 END)
          + (CASE WHEN punct_ratio <= 0.2 THEN 1.0
                  ELSE GREATEST(0.0, 1.0 - (punct_ratio - 0.2) * 2) END)
          + LEAST(1.0, stop_ratio * 4)) / 3 AS quality,
         ((((mixed + 52711) % 1073741824) * 2654541183) % 4294967296 // 64) % 10000 AS bucket
  FROM mx
)
SELECT doc_id, lang, quality FROM q
WHERE bucket < quality * 10000.0
ORDER BY doc_id
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsample rebalancing the language skew (en downsampled
    hardest), via the deterministic key-hash variant — membership is a pure
    function of doc_id, so the oracle recomputes the identical subset in
    SQL (the seeded ``sampleBy`` form stays available as
    operators/sampling.py stratified_sample for RNG-tolerant callers)."""
    from european_emissions_data_warehouse_spark.operators.sampling import (
        stratified_sample_hash,
    )

    docs = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.25, "de": 0.8, "es": 0.8, "fr": 0.8, "zh": 0.8}
    return stratified_sample_hash(
        docs.select("doc_id", "lang"), "lang", fractions, key_col="doc_id"
    ).orderBy("doc_id")


ORACLE_STRATIFIED_SAMPLE = """
-- bucket arithmetic lockstep with sampling.hash_bucket incl. the high-bit
-- mix (identity for sub-2^30 doc_ids; code-review r4)
WITH k AS (
  SELECT doc_id, lang,
         ((doc_id % 1073741824) + 1073741824) % 1073741824 AS lo
  FROM documents
), mx AS (
  SELECT doc_id, lang,
         (((((doc_id - lo) // 1073741824) * 48271 + lo) % 1073741824 + 1073741824) % 1073741824) AS mixed
  FROM k
), b AS (
  SELECT doc_id, lang,
         ((((mixed + 52711) % 1073741824) * 2654541183) % 4294967296 // 64) % 10000 AS bucket
  FROM mx
)
SELECT doc_id, lang FROM b
WHERE bucket < (CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.8 WHEN 'es' THEN 0.8
                          WHEN 'fr' THEN 0.8 WHEN 'zh' THEN 0.8 ELSE 0.0 END) * 10000
ORDER BY doc_id
"""


# --- embedding clustering ----------------------------------------------------


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means (k=8, one Lloyd iteration, fixed-point means)
    over the embeddings corpus; per-cluster membership summary.  Exact
    integer mean sums make the assignment itself engine-reproducible, so
    this is a full oracle row, not a verdict (operators/similarity.py
    kmeans_exact)."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_exact(emb, k=8, n_iters=1)
    return (
        assigned.groupBy(F.col("centroid_id").cast("long").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("cluster_id")
    )


# Shared CTE chain replaying kmeans_exact(k=8, n_iters=1): stratified init,
# argmax-cosine assignment, fixed-point exact means, final assignment `a1`
# over `vecs`.
_KMEANS_CTES = """vecs AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), init AS (
  SELECT CAST(id % 8 AS INT) AS cid, MIN(id) AS id FROM vecs GROUP BY 1
), c0 AS (
  SELECT i.cid, v.v AS c FROM init i JOIN vecs v USING (id)
), s0 AS (
  SELECT vecs.id, c0.cid,
         list_dot_product(vecs.v, c0.c)
           / (GREATEST(sqrt(list_dot_product(vecs.v, vecs.v)), 1e-150) * GREATEST(sqrt(list_dot_product(c0.c, c0.c)), 1e-150)) AS sim
  FROM vecs, c0
), a0 AS (
  SELECT id, cid FROM (
    SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, cid) AS rn FROM s0
  ) WHERE rn = 1
), comp AS (
  SELECT a0.cid, unnest(range(len(v.v))) AS dim, v.v AS e
  FROM a0 JOIN vecs v USING (id)
), sums AS (
  SELECT cid, CAST(dim AS BIGINT) AS dim,
         SUM(CAST(FLOOR(e[CAST(dim AS INT) + 1] * 1048576) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM comp GROUP BY 1, 2
), c1 AS (
  SELECT cid, list(s / (n * 1048576.0) ORDER BY dim) AS c FROM sums GROUP BY cid
), s1 AS (
  SELECT vecs.id, c1.cid,
         list_dot_product(vecs.v, c1.c)
           / (GREATEST(sqrt(list_dot_product(vecs.v, vecs.v)), 1e-150) * GREATEST(sqrt(list_dot_product(c1.c, c1.c)), 1e-150)) AS sim
  FROM vecs, c1
), a1 AS (
  SELECT id, cid FROM (
    SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, cid) AS rn FROM s1
  ) WHERE rn = 1
)"""

ORACLE_KMEANS_CLUSTERS = f"""
WITH {_KMEANS_CTES}
SELECT CAST(cid AS BIGINT) AS cluster_id, COUNT(*) AS n_members,
       MIN(id) AS min_id, MAX(id) AS max_id
FROM a1 GROUP BY cid ORDER BY cluster_id
"""


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cosine near-dup pairs found within k-means clusters only —
    the clustering bounds the pair search to Σ n_c² instead of n², the
    standard embedding-dedup scale path (operators/similarity.py
    semdedup_pairs).  Per-cluster summary: pair count and how many docs a
    keep-lowest-id policy would drop.  Threshold 0.3 matches this synthetic
    corpus's similarity ceiling (~0.4, see cosine_pairs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = semdedup_pairs(emb, k=8, n_iters=1, threshold=0.3)
    return (
        pairs.groupBy(F.col("centroid_id").cast("long").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("id_b").alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


ORACLE_SEMDEDUP = f"""
WITH {_KMEANS_CTES}, members AS (
  SELECT a1.cid, a1.id, v.v FROM a1 JOIN vecs v USING (id)
), pairs AS (
  SELECT a.cid, a.id AS id_a, b.id AS id_b
  FROM members a JOIN members b
    ON a.cid = b.cid AND a.id < b.id
  WHERE list_dot_product(a.v, b.v)
          / (GREATEST(sqrt(list_dot_product(a.v, a.v)), 1e-150) * GREATEST(sqrt(list_dot_product(b.v, b.v)), 1e-150)) >= 0.3
)
SELECT CAST(cid AS BIGINT) AS cluster_id, COUNT(*) AS n_pairs,
       CAST(COUNT(DISTINCT id_b) AS BIGINT) AS n_dropped
FROM pairs GROUP BY cid ORDER BY cluster_id
"""


def q_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the TWO-LEVEL clustering (operators/similarity.py
    kmeans_two_level + semdedup_pairs_scaled) — the decade-scaling form
    for corpora where k grows with n to hold cluster size constant, where
    flat assignment's n*k cosines go quadratic (measured r4, SCALING.md:
    flat 41s vs two-level 5.9s at 20k vectors / k=80).

    Verdict-shaped grading (the two-level Lloyd refinement is not
    reasonably SQL-replayable): plant 5 exact duplicate vectors, run the
    scaled dedup at threshold 0.999, and emit exactly-checkable facts —
    every planted duplicate must be found (identical vectors share both
    clustering levels by deterministic tie-break), every emitted pair
    must clear the threshold on an INDEPENDENTLY re-joined true cosine,
    and the clustering must cover every corpus id exactly once with ids
    in [0, k1*k2) (the two-level GRID bound — k1*k2 >= k for non-grid-
    exact k; two_level_split is the authority).  The clustering runs
    ONCE: the same eagerly-checkpointed assignment feeds both the pair
    stage and the coverage aggregate (it previously ran twice — the
    dominant cost of this query; code-review r4)."""
    from european_emissions_data_warehouse_spark.functions.vectors import cosine
    from european_emissions_data_warehouse_spark.operators.similarity import (
        kmeans_two_level,
        semdedup_pairs_scaled,
        two_level_split,
    )

    from european_emissions_data_warehouse_spark.functions.vectors import norm as _vnorm

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # plant duplicates of NON-degenerate vectors only: a zero vector's
    # cosine to its own copy is 0 under the floored-norm convention, so
    # SemDeDup correctly does NOT claim the pair — the oracle counts the
    # same non-degenerate planting set instead of pinning 5 (round-5 fuzz
    # gate, seed 5: vec 2 was a planted zero vector)
    planted = emb.filter(
        (F.col("vec_id") < 5)
        & (_vnorm(F.col("embedding").cast("array<double>")) > 1e-6)
    ).withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    corpus = emb.unionByName(planted).localCheckpoint(eager=False)
    k = 16
    k1, k2 = two_level_split(k)
    assigned = kmeans_two_level(corpus, k=k, n_iters=1).localCheckpoint(
        eager=False
    )
    pairs = semdedup_pairs_scaled(
        corpus, k=k, n_iters=1, threshold=0.999, assigned=assigned
    ).localCheckpoint(eager=False)
    vecs = corpus.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    rechecked = (
        pairs.join(
            vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a"
        )
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("id_a") < 5)
                        & (F.col("id_b") == F.col("id_a") + 1_000_000),
                        F.lit(1),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("planted_found"),
            F.coalesce(
                F.sum(
                    F.when(
                        cosine(F.col("va"), F.col("vb")) < 0.999 - 1e-9, F.lit(1)
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("orphan_pairs"),
        )
    )
    coverage = (
        assigned.agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.countDistinct("id").alias("n_ids"),
            F.min("centroid_id").alias("cmin"),
            F.max("centroid_id").alias("cmax"),
        )
        .crossJoin(corpus.agg(F.count(F.lit(1)).alias("n_corpus")))
        .select(
            # vacuously complete on an EMPTY corpus: min/max over zero
            # rows are NULL and the conjunction went NULL, failing the
            # pinned 1 before first ingest (round-5 empty-fixture gate)
            F.when(F.col("n_corpus") == 0, F.lit(1))
            .otherwise(
                (
                    (F.col("n_assigned") == F.col("n_corpus"))
                    & (F.col("n_ids") == F.col("n_corpus"))
                    & (F.col("cmin") >= 0)
                    & (F.col("cmax") < k1 * k2)
                ).cast("long")
            )
            .cast("long")
            .alias("coverage_ok")
        )
    )
    return rechecked.crossJoin(coverage)


ORACLE_SEMDEDUP_SCALED = """
SELECT CAST(COUNT(*) AS BIGINT) AS planted_found,
       CAST(0 AS BIGINT) AS orphan_pairs,
       CAST(1 AS BIGINT) AS coverage_ok
FROM embeddings
WHERE vec_id < 5
  AND sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 1e-6
"""


# --- embedding quantization ---------------------------------------------------


def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization profile for embedding storage: per-vector
    scale (127/absmax) and max reconstruction error — the check run before
    committing a corpus to int8 (4x smaller, ~1e-2 max error at dim 64).
    Pure JVM higher-order folds (functions/vectors.py), map-side only; the
    explicit floor(x·scale+0.5) rounding makes the quantizer, and therefore
    the error profile, engine-reproducible."""
    from european_emissions_data_warehouse_spark.functions.vectors import (
        absmax,
        int8_quant_max_err,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    with_scale = emb.select(
        "vec_id",
        "embedding",
        absmax(F.col("embedding")).alias("amax"),
    ).filter(F.col("amax") > 0)
    # FLOOR fixed-point, not ROUND: max errors cluster near rounding
    # midpoints (they are half-ulp quantities by construction), where
    # Spark's decimal HALF_UP and DuckDB's binary rounding disagree;
    # floor of the scaled double is bit-deterministic in both.
    return with_scale.select(
        "vec_id",
        F.floor(F.col("amax") * 1_000_000).cast("long").alias("amax_micro"),
        F.floor(
            int8_quant_max_err(F.col("embedding"), F.lit(127.0) / F.col("amax"))
            * 1_000_000
        )
        .cast("long")
        .alias("max_abs_err_micro"),
    ).orderBy("vec_id")


ORACLE_QUANTIZE_INT8 = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 100
), scaled AS (
  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS amax FROM v
)
SELECT vec_id, CAST(FLOOR(amax * 1000000) AS BIGINT) AS amax_micro,
       CAST(FLOOR(list_max(list_transform(e,
         x -> abs(x - FLOOR(x * (127.0 / amax) + 0.5) / (127.0 / amax)))) * 1000000) AS BIGINT)
         AS max_abs_err_micro
FROM scaled WHERE amax > 0 ORDER BY vec_id
"""


# --- co-occurrence PMI --------------------------------------------------------


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 within-document co-occurring token pairs by pointwise mutual
    information: PMI(a,b) = ln(n_ab·N / (n_a·n_b)) over document-level
    presence counts — the classic collocation/phrase-mining signal.

    Shape: distinct (doc, token) presence once; the pair counts come from a
    doc-keyed self-join (a < b) — work is Σ_d |vocab_d|², bounded by the
    per-doc DISTINCT vocabulary, not doc length; the unigram doc-count
    table joins the pairs SIZE-BASED (vocabulary-sized: broadcast at bench
    scale, shuffle join on a web corpus where a hint would exceed the 8 GB
    ceiling); N is a 1-row broadcast.  This graded form is the EXACT,
    UNCAPPED baseline (same status as ngram_jaccard vs its capped
    sibling): at web scale a production caller MUST cap per-doc vocabulary
    first — filter `uni` to mid-frequency terms and semi-join it back
    before pairing (ultra-common terms carry no PMI anyway; a single 50k
    distinct-token doc otherwise emits ~1.25e9 pair rows in one task;
    code-review r4, scale pass).  Scores are ROUND()ed before ranking with
    a pair tiebreak (libm ln ulp noise)."""
    docs = load_table(spark, sf_dir, "documents")
    pres = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
        # three consumers (both self-join sides + unigram counts) — one
        # materialization instead of three explode+distinct executions
        .localCheckpoint(eager=False)
    )
    uni = pres.groupBy("tok").agg(F.count(F.lit(1)).alias("n_doc"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    a = pres.select("doc_id", F.col("tok").alias("tok_a"))
    b = pres.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    scored = (
        # size-based, not hinted: the unigram table is vocabulary-sized —
        # fine to broadcast at bench scale (the planner does), billions of
        # rows on a 100 TB web corpus where a hint would hard-fail on the
        # 8 GB ceiling (code-review r4, scale pass)
        pairs.join(uni.select(F.col("tok").alias("tok_a"), F.col("n_doc").alias("n_a")), "tok_a")
        .join(uni.select(F.col("tok").alias("tok_b"), F.col("n_doc").alias("n_b")), "tok_b")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "pmi",
            F.round(F.log((F.col("n_ab") * F.col("n_docs")) / (F.col("n_a") * F.col("n_b"))), 4),
        )
    )
    return (
        scored.orderBy(F.desc("pmi"), "tok_a", "tok_b")
        .limit(20)
        .select("tok_a", "tok_b", "n_ab", "pmi")
    )


ORACLE_PMI_PAIRS = r"""
WITH pres AS (
  SELECT DISTINCT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), pres2 AS (
  SELECT doc_id, tok FROM pres WHERE tok <> ''
), uni AS (
  SELECT tok, COUNT(*) AS n_doc FROM pres2 GROUP BY tok
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_ab
  FROM pres2 a JOIN pres2 b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2
)
SELECT tok_a, tok_b, n_ab,
       ROUND(ln((n_ab * n.n_docs) / (ua.n_doc * ub.n_doc)), 4) AS pmi
FROM pairs
JOIN uni ua ON ua.tok = tok_a
JOIN uni ub ON ub.tok = tok_b, n
ORDER BY pmi DESC, tok_a, tok_b LIMIT 20
"""


# --- mixture temperature sampling --------------------------------------------


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-adjusted language-mixture schedule (mT5, Xue et al. 2021,
    arXiv:2010.11934 §3.1): sampling share q_l ∝ p_l^τ at τ=0.3, where p_l
    is the language's raw token share — the standard low-resource upsampling
    knob.  Token counts are exact integers; the τ-power and normalization
    are single IEEE ops per language over a |languages|-row frame (broadcast
    1-row totals, no corpus re-scan), rounded for cross-engine equality.

    ``per`` (the one corpus-wide tokenization scan) is materialized: it
    feeds the total, the pw frame, and — through with_p's two consumers —
    the final select, and the exchanges differ enough that ReuseExchange
    cannot be relied on to collapse them (code-review r4)."""
    tau = 0.3
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.sum(ws_token_count(F.col("text"))).alias("n_tokens")
    ).localCheckpoint(eager=False)
    with_p = (
        per.crossJoin(F.broadcast(per.agg(F.sum("n_tokens").alias("n_total"))))
        .withColumn("raw_share", F.col("n_tokens") / F.col("n_total"))
        .withColumn("pw", F.pow("raw_share", F.lit(tau)))
        .localCheckpoint(eager=False)  # |languages| rows, two consumers
    )
    z = with_p.agg(F.sum("pw").alias("z"))
    return (
        with_p.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_tokens",
            F.round("raw_share", 6).alias("raw_share"),
            F.round(F.col("pw") / F.col("z"), 6).alias("temp_share"),
            F.round((F.col("pw") / F.col("z")) / F.col("raw_share"), 6).alias("upsample"),
        )
        .orderBy("lang")
    )


ORACLE_MIXTURE_TEMPERATURE = r"""
WITH per AS (
  SELECT lang,
         CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), tot AS (
  SELECT SUM(n_tokens) AS n_total FROM per
), with_p AS (
  SELECT lang, n_tokens,
         n_tokens / tot.n_total AS raw_share,
         pow(n_tokens / tot.n_total, 0.3) AS pw
  FROM per, tot
), z AS (
  SELECT SUM(pw) AS z FROM with_p
)
SELECT lang, n_tokens,
       ROUND(raw_share, 6) AS raw_share,
       ROUND(pw / z.z, 6) AS temp_share,
       ROUND((pw / z.z) / raw_share, 6) AS upsample
FROM with_p, z
ORDER BY lang
"""


# --- importance weighting (data selection) -----------------------------------


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169):
    per-document log importance of raw data under a target distribution,
    via hashed n-gram features — here word unigrams hashed into 256 buckets
    with an md5-derived bucket id (cross-engine exact, unlike xxhash64).
    Target = the 'en' slice; raw = the full corpus; add-one smoothing.

    Scale: the bucket-weight table is O(B)=256 rows — broadcast; token
    bucketing is map-side; the only corpus shuffle is the per-doc weight
    roll-up on doc_id.  Weights are ROUND()ed so sub-ulp libm ln noise in
    the per-bucket log-ratios cannot break cross-engine equality.

    ``tk`` (the corpus-wide tokenize + md5 + base-conversion pass — the
    dominant cost) is materialized once and read exactly TWICE: one
    conditional-count bucket rollup (n_t and n_r in the same groupBy; the
    grand totals derive from its 256 rows) and the scoring join — the old
    tcnt/rcnt/tots trio read it four times under exchanges ReuseExchange
    cannot dedupe (code-review r4, scale pass; the same discipline as
    q_pmi_pairs)."""
    B = 256
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    tk = toks.select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % B).alias("b"),
    ).localCheckpoint(eager=False)
    # ONE bucket rollup: the en-count is a conditional sum inside the same
    # groupBy, and the grand totals derive from the 256-row bucket table —
    # the old tcnt/rcnt/tots trio re-read the checkpointed token stream
    # THREE times for numbers one pass provides (code-review r4, scale
    # pass; exact integer counts, values identical)
    bstats = tk.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_t"),
        F.count(F.lit(1)).alias("n_r"),
    )
    tots = bstats.agg(F.sum("n_t").alias("tt"), F.sum("n_r").alias("rt"))
    w = (
        bstats
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.log(
                ((F.coalesce(F.col("n_t"), F.lit(0)) + 1.0) / (F.col("tt") + float(B)))
                / ((F.col("n_r") + 1.0) / (F.col("rt") + float(B)))
            ).alias("lw"),
        )
    )
    return (
        tk.filter(F.col("doc_id") < 100)
        .join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lw"), 4).alias("log_weight"),
        )
        .orderBy("doc_id")
    )


ORACLE_DSIR_WEIGHTS = r"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), tk AS (
  SELECT doc_id, lang, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS b
  FROM toks WHERE tok <> ''
), tcnt AS (
  SELECT b, COUNT(*) AS n_t FROM tk WHERE lang = 'en' GROUP BY b
), rcnt AS (
  SELECT b, COUNT(*) AS n_r FROM tk GROUP BY b
), tot AS (
  SELECT (SELECT COUNT(*) FROM tk WHERE lang = 'en') AS tt, (SELECT COUNT(*) FROM tk) AS rt
), w AS (
  SELECT r.b,
         ln(((COALESCE(t.n_t, 0) + 1.0) / (tot.tt + 256.0))
            / ((r.n_r + 1.0) / (tot.rt + 256.0))) AS lw
  FROM rcnt r LEFT JOIN tcnt t USING (b), tot
)
SELECT tk.doc_id, COUNT(*) AS n_tokens, ROUND(SUM(w.lw), 4) AS log_weight
FROM tk JOIN w USING (b)
WHERE tk.doc_id < 100
GROUP BY tk.doc_id ORDER BY doc_id
"""


# --- lexical relevance ranking ----------------------------------------------


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·idf; corpus statistics
    (df, N) over the FULL corpus, output restricted to the first 100 docs.
    Ranking is on the rounded score with a term tiebreak, so libm ln noise
    cannot reorder rows cross-engine (operators/ranking.py)."""
    docs = load_table(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, k=3)
    return out.filter(F.col("doc_id") < 100)


ORACLE_TFIDF_TERMS = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
)
SELECT doc_id, term, tfidf, CAST(rnk AS BIGINT) AS "rank"
FROM (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * ln(n.n_docs / df.df), 4) AS tfidf,
         ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY ROUND(tf.tf * ln(n.n_docs / df.df), 4) DESC, tf.term) AS rnk
  FROM tf JOIN df USING (term), n
)
WHERE rnk <= 3 AND doc_id < 100
"""


BM25_QUERY_TERMS = ["vector", "hash", "stream"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents for a 3-term keyword query over the full
    corpus (k1=1.2, b=0.75).  The term index is filtered to the query's
    terms before any join, so the scored relation is tiny regardless of
    corpus size (operators/ranking.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_QUERY_TERMS, k=10)


ORACLE_BM25_SEARCH = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
), stats AS (
  -- N and avgdl's denominator = collection size, matching the operator
  -- (token-less docs have no dl row; code-review r4)
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         SUM(dl) / (SELECT COUNT(*) FROM documents) AS avgdl FROM dl
), scored AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / stats.avgdl))
         ), 4) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
  WHERE tf.term IN ('vector', 'hash', 'stream')
  GROUP BY tf.doc_id
)
SELECT doc_id, score, CAST(rnk AS BIGINT) AS "rank"
FROM (
  SELECT doc_id, score, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM scored
)
WHERE rnk <= 10
"""


# --- round-3 additions: corpus statistics for data curation -----------------


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram model — the classic cheap fluency/quality signal (low = rare
    garbage, high = repetitive boilerplate).  Two shuffles: the token-count
    rollup and the token->count join (keyed on the token — at web scale the
    vocab is too large to broadcast, so the join stays a shuffle join by
    design); the corpus total rides along as a broadcast scalar.  ln() is
    libm-backed in both engines (≤1 ulp apart), so the mean rounds to 4
    like the BM25 oracle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    # materialized once: the count rollup and the scoring join both read
    # the exploded stream under DIFFERENT exchanges (partial-agg-on-tok vs
    # raw-rows-on-tok), so ReuseExchange cannot dedupe and the corpus
    # tokenized twice (code-review r4, scale pass; same discipline as
    # q_dsir_weights)
    toks = toks.localCheckpoint(eager=False)
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tot"))
    return (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum(F.log(F.col("cnt") / F.col("tot"))) / F.count(F.lit(1)), 4).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


ORACLE_UNIGRAM_LOGPROB = r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), counts AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
), total AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM counts
)
SELECT doc_id, COUNT(*) AS n_tokens,
       ROUND(SUM(ln(CAST(cnt AS DOUBLE) / tot)) / COUNT(*), 4) AS avg_logprob
FROM toks JOIN counts USING (tok), total
GROUP BY doc_id
ORDER BY doc_id
"""


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization, graded as a deterministic quality verdict
    (the codebooks are k-means over xxhash-free exact arithmetic, but a
    DuckDB replay of 4 independent k-means would dwarf the semdedup CTE,
    so the oracle pins the booleans and exactly checks the companions).

    Emits: corpus size (exact), the PQ geometry (exact), and two pinned
    quality booleans — the 128x-compressed reconstruction must beat the
    k=1 baseline (global-mean reconstruction) on MSE, and asymmetric-
    distance top-5 over reconstructions must match-or-beat the same
    baseline's retrieval AND land at least one true hit (global-mean recon
    makes every corpus vector identical, so its top-5 is pure tie-break —
    any surviving signal in the PQ recon wins; >= rather than strict >
    because a lucky tie-break draw may TIE correct weak-signal PQ, and the
    n_hit>0 leg keeps a zero-signal recon failing).  The retrieval bar is self-relative, not an
    absolute recall threshold: the old >=20% bound was a FIXTURE property
    (the fuzz gate's perturbed corpus dropped ADC recall to 10% with
    correct geometry — weak-signal embeddings, see lsh_topk's r-tuning
    note, plateau ~0.3 recall on the driver fixture).  All inputs to both
    booleans are fixed-point exact, so the verdict cannot flap."""
    from european_emissions_data_warehouse_spark.operators.similarity import (
        exact_centroid_means,
        pq_reconstruct,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pq = pq_reconstruct(emb, dim=64, m=4, k=16).localCheckpoint(eager=False)

    def sq_err(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    mse = pq.select(sq_err(F.col("v"), F.col("recon")).alias("se")).agg(
        F.avg("se").alias("pq_mse")
    )
    base_asg = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("centroid_id", F.lit(0))
    gmean = exact_centroid_means(base_asg)
    base_mse = (
        base_asg.crossJoin(F.broadcast(gmean))
        .select(sq_err(F.col("v"), F.col("centroid")).alias("se"))
        .agg(F.avg("se").alias("base_mse"))
    )

    # degenerate probes excluded: a zero/denormal embedding has no
    # meaningful direction, so its exact top-5 is noise and the ADC
    # retrieval claim doesn't apply (round-5 fuzz gate, seed 2: probe
    # vec 3 had norm 4.5e-30).  Production ANN normalizes and drops these
    # at ingest; the verdict mirrors that contract.  20 probe ids, not 5:
    # with ~25-100 exact pairs the PQ-vs-baseline hit gap is wide enough
    # that a tie (n_hit == n_hit_base with working code) is out of reach,
    # and a fixture would need all 20 low ids degenerate to empty the
    # probe set (round-5 code review).
    from european_emissions_data_warehouse_spark.functions.vectors import norm as _vnorm

    queries_df = emb.filter(
        (F.col("vec_id") < 20)
        & (_vnorm(F.col("embedding").cast("array<double>")) > 1e-6)
    )
    exact = brute_force_topk(queries_df, emb, k=5).select("query_id", "neighbor_id")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    recon_corpus = pq.select(
        F.col("id").alias("vec_id"), F.col("recon").alias("embedding")
    )
    approx = brute_force_topk(queries_df, recon_corpus, k=5).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    # the retrieval baseline: every corpus vector reconstructed as the
    # global mean — its top-5 is pure tie-break, the floor PQ must beat
    base_corpus = base_asg.crossJoin(F.broadcast(gmean)).select(
        F.col("id").alias("vec_id"), F.col("centroid").alias("embedding")
    )
    base_approx = brute_force_topk(queries_df, base_corpus, k=5).select(
        "query_id", "neighbor_id"
    )
    base_hits = exact.join(base_approx, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit_base")
    )

    return (
        emb.agg(F.count(F.lit(1)).alias("n_vectors"))
        .crossJoin(F.broadcast(mse))
        .crossJoin(F.broadcast(base_mse))
        .crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(base_hits))
        .crossJoin(F.broadcast(n_exact))
        .select(
            "n_vectors",
            F.lit(4).cast("bigint").alias("m_subspaces"),
            F.lit(16).cast("bigint").alias("k_codes"),
            # vacuously true on an EMPTY corpus: avg over zero rows is
            # NULL and NULL < NULL is NULL, failing the pinned 1 before
            # first ingest (round-5 empty-fixture gate)
            F.when(F.col("n_vectors") == 0, F.lit(1))
            .otherwise((F.col("pq_mse") < F.col("base_mse")).cast("bigint"))
            .cast("bigint")
            .alias("mse_improved"),
            # vacuously true when the probe set is empty (every low-id
            # vector degenerate): 0 > 0 would fail the oracle's pinned 1
            # with correct PQ code (round-5 code review).  >= + n_hit>0,
            # not strict > (round-6, ADVICE r5): the baseline's top-5 over
            # all-identical global-mean reconstructions is pure tie-break,
            # so on an adversarial fixture a lucky tie-break draw could TIE
            # a weak-signal-but-correct PQ recon — strict > would flip the
            # pinned 1 with correct code.  The non-degeneracy half
            # (n_hit > 0) still fails a PQ recon with NO retrieval signal.
            F.when(F.col("n_exact") == 0, F.lit(1))
            .otherwise(
                (
                    (F.col("n_hit") >= F.col("n_hit_base"))
                    & (F.col("n_hit") > 0)
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("adc_recall_ok"),
        )
    )


ORACLE_ANN_PQ = """
SELECT COUNT(*) AS n_vectors,
       CAST(4 AS BIGINT) AS m_subspaces,
       CAST(16 AS BIGINT) AS k_codes,
       CAST(1 AS BIGINT) AS mse_improved,
       CAST(1 AS BIGINT) AS adc_recall_ok
FROM embeddings
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram conditional log-probability
    ln(c(prev,tok)/c(prev,·)) under the corpus's own bigram counts — the
    2-gram upgrade of unigram_logprob, sensitive to scrambled word order
    that unigram stats cannot see.  Bigrams come from posexplode + a lag
    window (one doc-keyed shuffle — the explode(transform(...)) form would
    re-evaluate the HOF per output row, see operators/dedup._rolling_grams);
    count joins are token-keyed shuffle joins since a web-scale bigram
    table cannot broadcast."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
            )
        ).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.withColumn("prev", F.lag("tok").over(w))
        .filter(F.col("prev").isNotNull())
        .select("doc_id", "prev", "tok")
        # two consumers (bigram counts and the scoring join; prefix counts
        # derive from the bigram-count table)
        .localCheckpoint(eager=False)
    )
    bcnt = big.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("n2"))
    # prefix counts roll up from the (much smaller) bigram-count table —
    # the direct groupBy re-read the checkpointed bigram stream a second
    # time for an identical integer (code-review r4, scale pass)
    pcnt = bcnt.groupBy("prev").agg(F.sum("n2").alias("n1"))
    return (
        big.join(bcnt, ["prev", "tok"])
        .join(pcnt, "prev")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(F.log(F.col("n2") / F.col("n1"))) / F.count(F.lit(1)), 4
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


ORACLE_BIGRAM_LOGPROB = r"""
WITH lst AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS l
  FROM documents
), big AS (
  SELECT doc_id, l[i + 1] AS prev, l[i + 2] AS tok
  FROM (SELECT doc_id, l, unnest(range(len(l) - 1)) AS i FROM lst WHERE len(l) >= 2)
), bcnt AS (
  SELECT prev, tok, COUNT(*) AS n2 FROM big GROUP BY 1, 2
), pcnt AS (
  SELECT prev, COUNT(*) AS n1 FROM big GROUP BY 1
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(SUM(ln(CAST(n2 AS DOUBLE) / n1)) / COUNT(*), 4) AS avg_logprob
FROM big JOIN bcnt USING (prev, tok) JOIN pcnt USING (prev)
GROUP BY doc_id
ORDER BY doc_id
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document coverage of the corpus's top-500 vocabulary — the OOV
    signal used for tokenizer/corpus fit.  The vocab is a global top-k
    (TakeOrderedAndProject, ties broken by token) and is k rows, so it
    BROADCASTS to the token stream: the corpus never shuffles for the
    membership test; the only wide exchange is the per-doc rollup.
    Coverage is a bigint/bigint division — bit-stable with no rounding."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    # materialized once: the top-500 build and the probe join both read
    # the exploded stream (code-review r4, scale pass)
    toks = toks.localCheckpoint(eager=False)
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(500)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("in_vocab"), F.lit(0))).cast("long").alias("n_in_vocab"),
        )
        .withColumn("coverage", F.col("n_in_vocab") / F.col("n_tokens"))
        .orderBy("doc_id")
    )


ORACLE_VOCAB_COVERAGE = r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ORDER BY cnt DESC, tok LIMIT 500
  )
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_vocab,
       CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*) AS coverage
FROM toks t LEFT JOIN vocab v USING (tok)
GROUP BY doc_id
ORDER BY doc_id
"""


def q_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length decile profile WITHOUT a global sort: exact decile
    cutoffs come from one percentile aggregate (9 doubles, broadcast back),
    and each doc buckets itself by counting cutoffs below its length — a
    map-side expression, so the only exchange is the 10-group rollup.
    ntile(10) would funnel the corpus through one sorted partition; this
    shape scales (swap in approx_percentile when exact buffering of the
    value multiset is too big — same plan, sketch-merge aggregate)."""
    docs = load_table(spark, sf_dir, "documents")
    qs = [i / 10 for i in range(1, 10)]
    cuts = docs.agg(
        F.expr(f"percentile(n_chars, array({', '.join(str(q) for q in qs)}))").alias("cuts")
    )
    return (
        docs.crossJoin(F.broadcast(cuts))
        .withColumn(
            "decile",
            (F.size(F.filter("cuts", lambda c: F.col("n_chars") > c)) + 1).cast("long"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_len"),
            F.max("n_chars").alias("max_len"),
            (F.sum("n_chars") / F.count(F.lit(1))).alias("avg_len"),
        )
        .orderBy("decile")
    )


ORACLE_LENGTH_DECILES = """
WITH cuts AS (
  SELECT quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
  FROM documents
)
SELECT CAST(1 + len(list_filter(qs, q -> n_chars > q)) AS BIGINT) AS decile,
       COUNT(*) AS n_docs,
       MIN(n_chars) AS min_len,
       MAX(n_chars) AS max_len,
       CAST(SUM(n_chars) AS BIGINT) / COUNT(*) AS avg_len
FROM documents, cuts
GROUP BY 1
ORDER BY 1
"""


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global example shuffle for training-data writes: every
    doc gets a seeded md5 digest (cross-engine exact, unlike xxhash64), the
    digest's top 32 bits pick one of 8 output shards, and the digest orders
    examples WITHIN each shard.  This is the standard distributed corpus
    shuffle: reproducible (seed string), uniform (digest bits), and
    parallel — each shard sorts independently (shard count scales with the
    cluster; shards = output files), so no global sort ever exists.
    Output: (doc_id, shard, shard_pos)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    dg = F.md5(F.concat(F.lit("shuf42:"), F.col("doc_id").cast("string")))
    sharded = docs.select(
        "doc_id",
        dg.alias("_dg"),
        (F.conv(F.substring(dg, 1, 8), 16, 10).cast("long") % 8).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("_dg", "doc_id")
    return sharded.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("shard_pos"),
    )


ORACLE_CORPUS_SHUFFLE = """
WITH s AS (
  SELECT doc_id,
         md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS dg
  FROM documents
)
SELECT doc_id,
       ('0x' || substr(dg, 1, 8))::BIGINT % 8 AS shard,
       CAST(ROW_NUMBER() OVER (
              PARTITION BY ('0x' || substr(dg, 1, 8))::BIGINT % 8
              ORDER BY dg, doc_id) AS BIGINT) AS shard_pos
FROM s
"""


def q_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching profile: cap each doc at 128 whitespace
    tokens, assign it the smallest 32-multiple bucket that fits, and report
    per-bucket padding waste vs padding every example to the fixed 128 max
    — the report a batching layer uses to size inference/training buckets.
    Pure integer arithmetic end-to-end (exact cross-engine); one map-side
    pass plus a 4-group aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    n = ws_token_count(F.col("text"))
    capped = F.least(n, F.lit(128))
    bucket = (F.floor((capped + 31) / 32) * 32).cast("long")
    return (
        docs.select(capped.alias("_c"), bucket.alias("bucket_len"))
        .groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_c").cast("long").alias("useful_tokens"),
            F.sum(F.col("bucket_len") - F.col("_c")).cast("long").alias("pad_bucketed"),
            F.sum(128 - F.col("_c")).cast("long").alias("pad_fixed"),
            # try_divide: the all-empty-docs bucket has bucket_len=0 and
            # ANSI / raises DIVIDE_BY_ZERO; DuckDB's double 0/0 is NULL, so
            # NULL pad_pct is the lockstep answer (round-5 fuzz gate)
            F.round(
                F.try_divide(
                    100.0 * F.sum(F.col("bucket_len") - F.col("_c")),
                    F.sum("bucket_len"),
                ),
                2,
            ).alias("pad_pct"),
        )
        .orderBy("bucket_len")
    )


ORACLE_PADDING_EFFICIENCY = r"""
WITH d AS (
  SELECT LEAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')), 128) AS c
  FROM documents
), b AS (
  SELECT c, ((c + 31) // 32) * 32 AS bucket_len FROM d
)
SELECT CAST(bucket_len AS BIGINT) AS bucket_len,
       COUNT(*) AS n_docs,
       CAST(SUM(c) AS BIGINT) AS useful_tokens,
       CAST(SUM(bucket_len - c) AS BIGINT) AS pad_bucketed,
       CAST(SUM(128 - c) AS BIGINT) AS pad_fixed,
       ROUND(100.0 * SUM(bucket_len - c) / SUM(bucket_len), 2) AS pad_pct
FROM b GROUP BY bucket_len ORDER BY bucket_len
"""


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup (RefinedWeb/Dolma line-dedup, 16-word chunks
    standing in for lines): shared boilerplate survives only at its first
    corpus occurrence; docs are reassembled from surviving chunks."""
    return chunk_dedup(load_table(spark, sf_dir, "documents"), chunk_words=16)


ORACLE_CHUNK_DEDUP = r"""
-- conservation lockstep with chunk_dedup (code-review r4, final pass):
-- NULL text coalesces to the empty token list and a token-less doc is
-- exactly ONE empty chunk (GREATEST floor), so every input doc keeps its
-- output row
WITH base AS (
  SELECT doc_id, COALESCE(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''), []) AS toks FROM documents
), chunks AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         array_to_string(toks[(CAST(i AS INT) * 16 + 1):(CAST(i AS INT) * 16 + 16)], ' ') AS chunk
  FROM base, UNNEST(range(0, GREATEST(CAST(ceil(len(toks) / 16.0) AS BIGINT), 1))) AS t(i)
), marked AS (
  SELECT doc_id, chunk_idx, chunk,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx), '')
         AS dedup_text
FROM marked GROUP BY doc_id
"""


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, the data-parallel count step: top adjacent
    char-pair frequencies over the corpus vocabulary (the arg-max row is
    the first merge rule a BPE trainer would emit)."""
    return bpe_pair_counts(load_table(spark, sf_dir, "documents"), top_n=20)


ORACLE_BPE_PAIR_COUNTS = r"""
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wfreq
  FROM (SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
), pairs AS (
  SELECT substr(word, CAST(i AS INT), 2) AS pair, wfreq
  FROM words, UNNEST(range(1, length(word))) AS t(i)
  WHERE length(word) >= 2
)
SELECT pair, CAST(SUM(wfreq) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair ASC LIMIT 20
"""


def q_bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training, the merge-application half of an iteration: apply the
    arg-max rule the count step learned and report its exact corpus effect
    (one summary row, all-bigint)."""
    return bpe_apply_merge(load_table(spark, sf_dir, "documents"))


ORACLE_BPE_APPLY_MERGE = r"""
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wfreq
  FROM (SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
), pairs AS (
  SELECT substr(word, CAST(i AS INT), 2) AS pair, wfreq
  FROM words, UNNEST(range(1, length(word))) AS t(i)
  WHERE length(word) >= 2
), rule AS (
  SELECT pair FROM pairs GROUP BY pair ORDER BY SUM(wfreq) DESC, pair ASC LIMIT 1
)
SELECT (SELECT pair FROM rule) AS merge_pair,
       -- wfreq-weighted: corpus occurrences touched, consistent with the
       -- sibling measures (code-review r4, operators pass).  Global agg
       -- over a LEFT JOIN + COALESCE, not GROUP BY r.pair: the engine's
       -- contract promises ONE zero-effect summary row (NULL pair) for a
       -- corpus with no learnable rule, and the grouped form emitted zero
       -- rows there (round-5 empty-fixture gate)
       CAST(COALESCE(SUM(CASE WHEN contains(w.word, r.pair) THEN w.wfreq ELSE 0 END), 0) AS BIGINT)
         AS words_touched,
       CAST(COALESCE(SUM(w.wfreq * (length(w.word) - length(replace(w.word, r.pair, ''))) / 2), 0)
         AS BIGINT) AS merges_applied,
       CAST(COALESCE(SUM(w.wfreq * length(w.word)), 0) AS BIGINT) AS symbols_before,
       CAST(COALESCE(SUM(w.wfreq * length(w.word)), 0)
            - COALESCE(SUM(w.wfreq * (length(w.word) - length(replace(w.word, r.pair, ''))) / 2), 0)
         AS BIGINT) AS symbols_after
FROM words w LEFT JOIN rule r ON true
"""


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation, verdict-shaped: the exact
    top-10 corpus tokens (oracle-checkable), each carrying the sketch's
    no-undercount guarantee and an overcount bound of 2·depth·N/width.

    One corpus scan: the vocabulary groupBy feeds the truth set, the
    stream length N, AND the (weighted) sketch build — sketches are
    linear, so the weighted build is bit-identical to consuming the raw
    token stream (in production the sketch consumes the stream directly
    and the vocabulary table never exists; that is its entire point).
    The sketch itself is xxhash64-seeded, so the estimates have no DuckDB
    twin — the booleans are enforced here and pinned to 1 in the oracle,
    the companion values are exact (same protocol as minhash_neardup).
    """
    depth, width = 4, 4096
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .localCheckpoint(eager=True)
    )
    top = vocab.orderBy(F.col("true_count").desc(), F.col("token")).limit(10)
    sketch = count_min_build(
        vocab, depth=depth, width=width, weight_col="true_count"
    )
    est = count_min_estimate(top.select("token"), sketch, depth=depth, width=width)
    n_stream = vocab.agg(F.sum("true_count").alias("n_stream"))
    bound = F.ceil(F.lit(2.0 * depth / width) * F.col("n_stream"))
    return (
        top.join(est, "token")
        .crossJoin(F.broadcast(n_stream))
        .select(
            "token",
            "true_count",
            (F.col("cms_est") >= F.col("true_count")).cast("int").alias("no_undercount"),
            (F.col("cms_est") <= F.col("true_count") + bound)
            .cast("int")
            .alias("overcount_bounded"),
        )
        .orderBy(F.col("true_count").desc(), "token")
    )


ORACLE_HEAVY_HITTERS_CMS = r"""
WITH toks AS (
  SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS token FROM documents
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count,
       1 AS no_undercount, 1 AS overcount_bounded
FROM toks WHERE token <> ''
GROUP BY token
ORDER BY true_count DESC, token LIMIT 10
"""


def q_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext-style mining across embedding groups: mutual cosine nearest
    neighbors between label-0 and label-1 vectors with exact margins."""
    return mutual_nn_pairs(
        load_table(spark, sf_dir, "embeddings"), group_a=0, group_b=1
    )


ORACLE_MUTUAL_NN = """
WITH a AS (SELECT vec_id AS id_a, embedding::DOUBLE[] AS va
           FROM embeddings WHERE label = 0),
     b AS (SELECT vec_id AS id_b, embedding::DOUBLE[] AS vb
           FROM embeddings WHERE label = 1),
scored AS (
  SELECT id_a, id_b,
         list_dot_product(va, vb)
           / (GREATEST(sqrt(list_dot_product(va, va)), 1e-150) * GREATEST(sqrt(list_dot_product(vb, vb)), 1e-150))
           AS sim
  FROM a, b
), ranked AS (
  SELECT id_a, id_b, sim,
         ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rn_a,
         LEAD(sim) OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS next_sim,
         ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY sim DESC, id_a) AS rn_b
  FROM scored
)
SELECT id_a, id_b, ROUND(sim, 4) AS sim, ROUND(sim - next_sim, 4) AS margin_a
FROM ranked WHERE rn_a = 1 AND rn_b = 1
"""


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based quality filtering (CCNet/GPT-3 recipe): pseudo-label
    with the cheap heuristic (quality_score >= 0.5), train token-level
    Naive Bayes in one aggregation, score every document.  The operator's
    docstring carries the scale contract; here the heuristic labels
    bootstrap the classifier exactly as CCNet bootstraps from Wikipedia."""
    from european_emissions_data_warehouse_spark.operators.quality import (
        nb_quality_scores,
    )

    # pseudo-labelling evaluates the regex-dense quality heuristic on every
    # row pre-exchange; spread_small_scan guards the under-split scan
    # (0.83 -> 0.70 s at sf0.1)
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id").withColumn(
        "pseudo_good", quality_score(F.col("text")) >= 0.5
    )
    return nb_quality_scores(docs, "pseudo_good")


ORACLE_NB_QUALITY = r"""
WITH m AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         CASE WHEN text IS NULL THEN NULL
              WHEN length(text) > 0 THEN len(regexp_extract_all(text, '[^\s\p{L}\p{N}]')) / length(text) ELSE 0.0 END
           AS punct_ratio,
         -- token-count guard, not length(trim()): tab-only text made the
         -- quotient 0/0 = NULL, LEAST skipped it to 1.0, and ONE such
         -- row's flipped label poisoned the NB model for every document
         -- (code-review r4, second pass)
         CASE WHEN text IS NULL THEN NULL
              WHEN len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) = 0 THEN 0.0
              ELSE len(regexp_extract_all(lower(text),
                  '\b(the|and|of|to|is|in|that|for|with|was)\b'))
                / len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END
           AS stop_ratio
  FROM documents
), labeled AS (
  SELECT doc_id, text,
         CASE WHEN ((CASE WHEN n_chars >= 100 THEN 1.0
                          ELSE n_chars / 100.0 END)
          + (CASE WHEN punct_ratio <= 0.2 THEN 1.0
                  ELSE GREATEST(0.0, 1.0 - (punct_ratio - 0.2) * 2) END)
          + LEAST(1.0, stop_ratio * 4)) / 3 >= 0.5 THEN 1 ELSE 0 END AS good
  -- NULL text is excluded from the labeled set entirely: the engine's
  -- boolean label is NULL there (unknown label != bad), so the doc joins
  -- neither the vocabulary nor the class prior — the bare ELSE 0 counted
  -- it as a bad-class document and shifted ln(n_good/n_bad) for EVERY
  -- score (code-review r4, second pass)
  FROM m WHERE text IS NOT NULL
), toks AS (
  SELECT doc_id, good, tok FROM (
    SELECT doc_id, good,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
    FROM labeled
  ) WHERE tok <> ''
), vocab AS (
  SELECT tok, CAST(SUM(good) AS BIGINT) AS n_good,
         CAST(SUM(1 - good) AS BIGINT) AS n_bad
  FROM toks GROUP BY tok
), scal AS (
  SELECT CAST(SUM(n_good) AS BIGINT) AS t_good,
         CAST(SUM(n_bad) AS BIGINT) AS t_bad,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM vocab
), prior AS (
  SELECT ln(CAST(SUM(good) AS DOUBLE) / SUM(1 - good)) AS prior FROM labeled
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(ln((n_good + 1) / CAST(t_good + v AS DOUBLE))
               - ln((n_bad + 1) / CAST(t_bad + v AS DOUBLE)))
             + ANY_VALUE(prior), 4) AS nb_logodds
FROM toks JOIN vocab USING (tok), scal, prior
GROUP BY doc_id
ORDER BY doc_id
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per document — the classic readability
    screen (curricula filters often band on it).  Counts are pure
    expressions: sentences = [.!?] runs (min 1), words = whitespace
    tokens, syllables = vowel groups per word (min 1/word — the standard
    heuristic).  All three are exact integers; the grade formula is one
    IEEE expression, rounded to 4.  Zero shuffles besides the final
    doc-id-ordered exchange — scan-bound at any corpus
    size, so spread_small_scan guards the under-split case (0.59 ->
    0.46 s at sf0.1)."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    t = F.lower(F.trim(F.col("text")))
    # one regex scan yields exactly the non-empty tokens: \S+ extraction is
    # tab/newline-safe (Spark trim strips only SPACES — round-5 fuzz gate)
    # without the split-then-filter-empty double pass, and reusing the same
    # token array for the vowel-less count drops the phantom empty-token
    # "words" the old split form fed into the syllable heuristic.
    # STAGED projection, not inline reuse: _toks is referenced twice (word
    # count + vowel-less filter), and CollapseProject declines to inline a
    # non-cheap expression with multiple references — so the \S+ scan of
    # every doc body runs ONCE here where the inline form ran it twice
    # (measured at sf0.1: min 0.72 s vs 1.12 s, identical output)
    staged = docs.select(
        "doc_id",
        F.regexp_extract_all(t, F.lit(r"\S+"), 0).alias("_toks"),
        F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)),
        ).alias("_sents"),
        # vowel groups across the doc; + one syllable per vowel-less word
        F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), 0)).alias("_vg"),
    )
    words = F.size(F.col("_toks"))
    sentences = F.col("_sents")
    novowel_words = F.size(F.filter(F.col("_toks"), lambda w: ~w.rlike("[aeiouy]")))
    syllables = F.col("_vg") + novowel_words
    # word-less docs have no defined grade: Spark's double 2.0/0.0 is
    # Infinity while DuckDB's is NULL — the when() guard makes NULL the
    # lockstep answer (round-5 fuzz gate)
    grade = F.when(
        words > 0,
        F.lit(0.39) * (words.cast("double") / sentences)
        + F.lit(11.8) * (syllables.cast("double") / words)
        - F.lit(15.59),
    )
    return staged.select(
        "doc_id",
        words.cast("bigint").alias("n_words"),
        sentences.cast("bigint").alias("n_sentences"),
        syllables.cast("bigint").alias("n_syllables"),
        F.round(grade, 4).alias("fk_grade"),
    ).orderBy("doc_id")


ORACLE_READABILITY = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS BIGINT)
         AS n_words,
       CAST(GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT)
         AS n_sentences,
       CAST(len(regexp_extract_all(lower(trim(text)), '[aeiouy]+'))
            + len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'),
                              w -> NOT regexp_matches(w, '[aeiouy]')))
         AS BIGINT) AS n_syllables,
       ROUND(0.39 * (len(regexp_extract_all(lower(trim(text)), '\S+'))
                     / CAST(GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
                            AS DOUBLE))
             + 11.8 * ((len(regexp_extract_all(lower(trim(text)), '[aeiouy]+'))
                        + len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'),
                                          w -> NOT regexp_matches(w, '[aeiouy]'))))
                       / CAST(len(regexp_extract_all(lower(trim(text)), '\S+'))
                              AS DOUBLE))
             - 15.59, 4) AS fk_grade
FROM documents
ORDER BY doc_id
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "chunk_dedup": q_chunk_dedup,
    "corpus_shuffle": q_corpus_shuffle,
    "padding_efficiency": q_padding_efficiency,
    "bpe_pair_counts": q_bpe_pair_counts,
    "bpe_apply_merge": q_bpe_apply_merge,
    "heavy_hitters_cms": q_heavy_hitters_cms,
    "mutual_nn": q_mutual_nn,
    "nb_quality": q_nb_quality,
    "readability": q_readability,
    "ngram_jaccard": q_ngram_jaccard,
    "ngram_jaccard_capped": q_ngram_jaccard_capped,
    "dedup_components": q_dedup_components,
    # both names run the one clustering function; the star name stays
    # registered so driver-contract consumers of it keep working
    "dedup_components_star": q_dedup_components,
    "minhash_neardup": q_minhash_neardup,
    "simhash_neardup": q_simhash_neardup,
    "ann_topk": q_ann_topk,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "cosine_pairs": q_cosine_pairs,
    "text_stats": q_text_stats,
    "text_clean": q_text_clean,
    "corpus_prep": q_corpus_prep,
    "decontaminate": q_decontaminate,
    "repetition_signals": q_repetition_signals,
    "token_rarity": q_token_rarity,
    "source_mixture": q_source_mixture,
    "lang_predict": q_lang_predict,
    "doc_fingerprint": q_doc_fingerprint,
    "embedding_stats": q_embedding_stats,
    "media_features": q_media_features,
    "media_frames": q_media_frames,
    "media_resize": q_media_resize,
    "train_test_split": q_train_test_split,
    "quality_weighted_sample": q_quality_weighted_sample,
    "stratified_sample": q_stratified_sample,
    "sentence_udtf": q_sentence_udtf,
    "sequence_pack": q_sequence_pack,
    "doc_chunks": q_doc_chunks,
    "label_centroids": q_label_centroids,
    "tfidf_terms": q_tfidf_terms,
    "bm25_search": q_bm25_search,
    "kmeans_clusters": q_kmeans_clusters,
    "semdedup": q_semdedup,
    "semdedup_scaled": q_semdedup_scaled,
    "dsir_weights": q_dsir_weights,
    "mixture_temperature": q_mixture_temperature,
    "pmi_pairs": q_pmi_pairs,
    "quantize_int8": q_quantize_int8,
    "unigram_logprob": q_unigram_logprob,
    "ann_pq": q_ann_pq,
    "ann_ivfpq": q_ann_ivfpq,
    "bigram_logprob": q_bigram_logprob,
    "vocab_coverage": q_vocab_coverage,
    "length_deciles": q_length_deciles,
}

ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "chunk_dedup": ORACLE_CHUNK_DEDUP,
    "corpus_shuffle": ORACLE_CORPUS_SHUFFLE,
    "padding_efficiency": ORACLE_PADDING_EFFICIENCY,
    "bpe_pair_counts": ORACLE_BPE_PAIR_COUNTS,
    "bpe_apply_merge": ORACLE_BPE_APPLY_MERGE,
    "heavy_hitters_cms": ORACLE_HEAVY_HITTERS_CMS,
    "mutual_nn": ORACLE_MUTUAL_NN,
    "nb_quality": ORACLE_NB_QUALITY,
    "readability": ORACLE_READABILITY,
    "ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "ngram_jaccard_capped": ORACLE_NGRAM_JACCARD_CAPPED,
    "dedup_components": ORACLE_DEDUP_COMPONENTS,
    "dedup_components_star": ORACLE_DEDUP_COMPONENTS,
    "minhash_neardup": ORACLE_MINHASH_NEARDUP,
    "simhash_neardup": ORACLE_SIMHASH_NEARDUP,
    "ann_topk": ORACLE_ANN_TOPK,
    "ann_lsh": ORACLE_ANN_LSH,
    "ann_ivf": ORACLE_ANN_IVF,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "cosine_pairs": ORACLE_COSINE_PAIRS,
    "text_stats": ORACLE_TEXT_STATS,
    "text_clean": ORACLE_TEXT_CLEAN,
    "corpus_prep": ORACLE_CORPUS_PREP,
    "decontaminate": ORACLE_DECONTAMINATE,
    "repetition_signals": ORACLE_REPETITION_SIGNALS,
    "token_rarity": ORACLE_TOKEN_RARITY,
    "source_mixture": ORACLE_SOURCE_MIXTURE,
    "lang_predict": ORACLE_LANG_PREDICT,
    "embedding_stats": ORACLE_EMBEDDING_STATS,
    "media_features": ORACLE_MEDIA_FEATURES,
    "media_frames": ORACLE_MEDIA_FRAMES,
    "media_resize": ORACLE_MEDIA_RESIZE,
    "train_test_split": ORACLE_TRAIN_TEST_SPLIT,
    "quality_weighted_sample": ORACLE_QUALITY_WEIGHTED_SAMPLE,
    "sentence_udtf": ORACLE_SENTENCE_UDTF,
    "sequence_pack": ORACLE_SEQUENCE_PACK,
    "doc_chunks": ORACLE_DOC_CHUNKS,
    "label_centroids": ORACLE_LABEL_CENTROIDS,
    "tfidf_terms": ORACLE_TFIDF_TERMS,
    "bm25_search": ORACLE_BM25_SEARCH,
    "kmeans_clusters": ORACLE_KMEANS_CLUSTERS,
    "semdedup": ORACLE_SEMDEDUP,
    "semdedup_scaled": ORACLE_SEMDEDUP_SCALED,
    "dsir_weights": ORACLE_DSIR_WEIGHTS,
    "mixture_temperature": ORACLE_MIXTURE_TEMPERATURE,
    "pmi_pairs": ORACLE_PMI_PAIRS,
    "quantize_int8": ORACLE_QUANTIZE_INT8,
    "unigram_logprob": ORACLE_UNIGRAM_LOGPROB,
    "ann_pq": ORACLE_ANN_PQ,
    "ann_ivfpq": ORACLE_ANN_IVFPQ,
    "bigram_logprob": ORACLE_BIGRAM_LOGPROB,
    "vocab_coverage": ORACLE_VOCAB_COVERAGE,
    "length_deciles": ORACLE_LENGTH_DECILES,
}
