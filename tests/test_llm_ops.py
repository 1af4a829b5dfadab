"""Quality/behavior tests for the LLM-pipeline operators beyond the oracle
gate: LSH recall vs brute force, sketch sanity, multimodal stub contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from european_emissions_data_warehouse_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from european_emissions_data_warehouse_spark.operators.multimodal import (
    documents_as_media,
    extract_media_features,
)
from european_emissions_data_warehouse_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from european_emissions_data_warehouse_spark.sources.readers import load_table


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    """The approximate path must recover most of the exact top-5."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(queries, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(queries, emb, dim=64, k=5, n_planes=16, bands=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall too low: {recall:.2f}"


def test_ivf_recall_scales_with_probes(spark, sf_dir):
    """IVF must recover a majority of the exact top-5 at a 25% probe
    fraction, and recall must not decrease when probing more lists (the
    runtime-tunable recall/cost knob that distinguishes IVF from LSH).
    Measured on sf0.01: probe 4/16 -> 0.64, 6/16 -> 0.72, 8/16 -> 0.82."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(queries, emb, k=5).collect()
    }

    def recall(n_probe: int) -> float:
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(queries, emb, k=5, n_centroids=8, n_probe=n_probe).collect()
        }
        return len(exact & got) / len(exact)

    r2, r8 = recall(2), recall(8)
    assert r2 >= 0.4, f"IVF recall too low at 2/8 probes: {r2:.2f}"
    assert r8 == 1.0, f"probing every list must be exhaustive: {r8:.2f}"


def test_minhash_catches_ngram_pairs(spark, sf_dir):
    """MinHash candidates should cover most true Jaccard>=0.5 pairs.
    Injects two known near-duplicate docs on top of the corpus so the truth
    set is never empty at any sf (previously a data-dependent skip)."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    head = base.orderBy("doc_id").first()
    injected = spark.createDataFrame(
        [
            (10_000_001, head["text"]),
            (10_000_002, head["text"] + " trailing edit"),
        ],
        "doc_id long, text string",
    )
    docs = base.unionByName(injected)
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert truth, "injected duplicates must create at least one true pair"
    cand = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.7, f"minhash recall too low: {recall:.2f}"


def test_minhash_banding_rejects_remainder(spark, sf_dir):
    """bands must divide num_hashes: the band slicer silently dropped the
    trailing num_hashes %% bands signature slots from every bucket —
    recall quietly below the 1-(1-j^r)^b tuning math, and store/probe
    could disagree on the remainder convention (code-review r4, second
    pass; lsh_topk already had this guard, the MinHash paths did not)."""
    import pytest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(10)
    with pytest.raises(ValueError, match="divide num_hashes"):
        minhash_lsh_pairs(docs, num_hashes=32, bands=5).collect()


def test_lsh_dim_mismatch_fails_loudly(spark, sf_dir):
    """A declared dim that disagrees with the embedding width must raise:
    zip_with pads the short side with nulls, the signature fold goes null,
    and every vector lands in ONE bucket per band — the 'bucket join'
    silently becomes the full cross product (code-review r4)."""
    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    queries = emb.filter(F.col("vec_id") < 5)
    with pytest.raises(Exception, match="embedding width"):
        lsh_topk(queries, emb, dim=32, k=5, n_planes=16, bands=8).collect()


def test_pq_width_mismatch_fails_loudly(spark, sf_dir):
    """pq_reconstruct on vectors narrower than the declared dim must raise:
    F.slice would yield short/empty trailing subspaces and meaningless
    codes with no error (code-review r4)."""
    from european_emissions_data_warehouse_spark.operators.similarity import (
        pq_reconstruct,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    with pytest.raises(Exception, match="embedding width"):
        pq_reconstruct(emb, dim=128, m=4, k=4).collect()


def test_two_level_sub_init_occupies_strata_on_strided_ids(spark, sf_dir):
    """Sub-cluster init must stratify by rank within each coarse list, not
    raw-id residue: with all-even ids (stride-2 assignment, as per-source
    id schemes produce) pmod(id, k2) left every odd stratum empty and each
    list silently trained ONE sub-cluster instead of k2 (code-review r4).
    k=4 -> k1=2, k2=2: the residue init capped distinct centroid_ids at 2;
    the rank init must split at least one list."""
    from european_emissions_data_warehouse_spark.operators.similarity import (
        kmeans_two_level,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") * 2).alias("vec_id"), "embedding"
    )
    out = kmeans_two_level(emb, k=4, n_iters=1)
    n_assigned = out.select("centroid_id").distinct().count()
    assert n_assigned > 2, (
        f"only {n_assigned} distinct centroid_ids on strided ids — "
        "sub-init strata collapsed (residue-init regression)"
    )


def test_semdedup_scaled_rejects_mismatched_assignment(spark, sf_dir):
    """A precomputed assignment built with a different k than the caller
    declares must fail loudly, not pair under one clustering while
    coverage bounds against another (code-review r4)."""
    from european_emissions_data_warehouse_spark.operators.similarity import (
        kmeans_two_level,
        semdedup_pairs_scaled,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    assigned = kmeans_two_level(emb, k=16, n_iters=1)
    with pytest.raises(Exception, match="outside the declared k"):
        semdedup_pairs_scaled(
            emb, k=4, threshold=0.0, assigned=assigned
        ).collect()


def test_multimodal_real_codec_raises(spark, sf_dir):
    """Without fake=True the decode stub must fail loudly, not fabricate."""
    media = documents_as_media(load_table(spark, sf_dir, "documents")).limit(5)
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        extract_media_features(media, fake=False).collect()


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _pil_available(), reason="PIL not in this container")
def test_multimodal_real_image_decode_via_pil(spark):
    """The REAL codec path (VERDICT r3 item #6): when the environment
    provides PIL, image payloads must decode to their true dimensions —
    collected-but-skipped in containers without PIL, lighting up
    automatically the moment the codec appears."""
    import io

    from PIL import Image

    def png(w: int, h: int) -> bytes:
        buf = io.BytesIO()
        Image.new("RGB", (w, h), (1, 2, 3)).save(buf, format="PNG")
        return buf.getvalue()

    media = spark.createDataFrame(
        [(1, "image/png", bytearray(png(17, 9))), (2, "image/png", bytearray(png(3, 44)))],
        "asset_id long, media_type string, payload binary",
    )
    got = {
        r["asset_id"]: (r["width"], r["height"])
        for r in extract_media_features(media, fake=False).collect()
    }
    assert got == {1: (17, 9), 2: (3, 44)}


def test_multimodal_batch_shape(spark, sf_dir):
    """The Arrow path must preserve ids 1:1 and drop the payload column."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    feats = extract_media_features(media, fake=True)
    assert "payload" not in feats.columns
    assert feats.count() == media.count()
    joined = feats.join(
        media.select("asset_id", F.length("payload").alias("true_len")), "asset_id"
    )
    assert joined.filter(F.col("n_bytes") != F.col("true_len")).count() == 0


def test_stop_shingle_cap_tames_boilerplate_skew(spark):
    """A boilerplate sentence shared by every document is a hot shingle key
    (m docs -> m^2 join rows).  With max_df the boilerplate shingles are
    dropped before the self-join: unrelated docs that only share boilerplate
    fall below threshold, genuinely near-duplicate docs are still found, and
    every capped jaccard is <= its uncapped value (conservative cap)."""
    boiler = "the quick brown fox jumps over the lazy dog footer"
    rows = [(i, f"doc number {i} carries payload token{i} alpha beta gamma " + boiler)
            for i in range(40)]
    # one true near-dup pair sharing a long unique body (no boilerplate)
    body = " ".join(f"w{j}" for j in range(40))
    rows += [(100, body + " tail one"), (101, body + " tail two")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(docs, k=5, unit="word", threshold=0.2)
    capped = ngram_jaccard_pairs(docs, k=5, unit="word", threshold=0.2, max_df=10)

    un = {(r.id_a, r.id_b): r.jaccard for r in uncapped.collect()}
    cp = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}

    # boilerplate-only pairs exist uncapped, vanish capped
    boiler_pairs_un = [p for p in un if p[0] < 40 and p[1] < 40]
    boiler_pairs_cp = [p for p in cp if p[0] < 40 and p[1] < 40]
    assert boiler_pairs_un, "fixture should produce boilerplate-driven pairs"
    assert not boiler_pairs_cp, boiler_pairs_cp
    # the true near-dup pair survives the cap
    assert (100, 101) in cp
    # conservative: capped jaccard never exceeds uncapped
    for p, j in cp.items():
        assert j <= un[p] + 1e-12, (p, j, un[p])


def test_contamination_overlap_flags_shared_grams(spark):
    """A train doc sharing a word-8-gram with any eval doc is flagged with
    the right overlap count; a train doc sharing nothing stays absent."""
    from european_emissions_data_warehouse_spark.operators.dedup import contamination_overlap

    common = "a b c d e f g h"  # exactly one 8-gram
    train = spark.createDataFrame(
        [(1, common + " x y z"), (2, "p q r s t u v w x y")],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "zz " + common + " qq")], "doc_id long, text string"
    )
    rows = {r.id: r for r in contamination_overlap(train, eval_docs, k=8).collect()}
    assert set(rows) == {1}
    assert rows[1].n_shared_grams == 1
    assert rows[1].n_grams == 4  # 11 words -> 4 8-gram positions


def test_contamination_overlap_partitioned_matches_two_frame(spark):
    """The one-index partitioned form is row-identical to the two-frame
    operator run on the pred-split inputs — including short, empty,
    whitespace-only and NULL-text docs on both sides (ADVICE r9: the
    'filtering output by id == filtering input' claim was only exercised
    end-to-end by the decontaminate oracle on one dataset/predicate)."""
    from european_emissions_data_warehouse_spark.operators.dedup import (
        contamination_overlap,
        contamination_overlap_partitioned,
    )

    common = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [
            (1, common + " one two three"),       # train, contaminated
            (2, "p q r s t u v w x y z"),        # train, clean
            (3, common),                          # eval (3 % 3 == 0)
            (4, "short"),                         # train, < k tokens
            (5, None),                            # train, NULL text
            (6, "   "),                           # eval, whitespace-only
            (7, ""),                              # train, empty text
            (9, common + " nine"),                # eval, also contaminated source
        ],
        "doc_id long, text string",
    )
    pred = lambda id_c: id_c % 3 == 0  # noqa: E731
    part = contamination_overlap_partitioned(docs, pred, k=8).collect()
    two = contamination_overlap(
        docs.filter(~(F.col("doc_id") % 3 == 0)),
        docs.filter(F.col("doc_id") % 3 == 0),
        k=8,
    ).collect()
    as_set = lambda rows: {tuple(r) for r in rows}  # noqa: E731
    assert as_set(part) == as_set(two)
    assert {r.id for r in part} == {1}  # only the contaminated train doc

    # back-compat: a plain Column over the index's `id` still works
    part_col = contamination_overlap_partitioned(
        docs, F.col("id") % 3 == 0, k=8
    ).collect()
    assert as_set(part_col) == as_set(part)


def test_shingle_index_adversarially_long_doc(spark):
    """VERDICT r9 item #4: shingle_index's collect_set buffers one doc's
    whole distinct-shingle set in a single aggregation buffer.  Pin the
    measured behavior at an adversarial length — a 200k-distinct-token
    document (~2.6 MB of text, 200k distinct 5-gram positions) must index
    correctly under default task memory, and its emitted rows must be the
    distinct set (one row per distinct shingle, n_shingles consistent)."""
    from european_emissions_data_warehouse_spark.operators.dedup import shingle_index

    n = 200_000
    long_text = " ".join(f"t{i}" for i in range(n))
    docs = spark.createDataFrame(
        [(1, long_text), (2, "a short doc beside it for contrast")],
        "doc_id long, text string",
    )
    idx = shingle_index(docs, "doc_id", "text", k=5).localCheckpoint(eager=False)
    stats = {
        r.id: r
        for r in idx.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("shingle").alias("distinct_sh"),
            F.min("n_shingles").alias("n_min"),
            F.max("n_shingles").alias("n_max"),
        )
        .collect()
    }
    big = stats[1]
    # one row per distinct shingle, and the carried count agrees
    assert big.rows == big.distinct_sh == big.n_min == big.n_max
    # all tokens distinct -> every 5-gram position is distinct up to
    # 62-bit hash collisions (~(2e5)^2 / 2^62 ~ 1e-8): exactly n-k+1
    assert big.rows == n - 5 + 1


def test_repetition_signals_hand_counts(spark):
    """Hand-checkable unigram/bigram concentrations, including the
    single-bigram edge (n_words - 1 denominator)."""
    from european_emissions_data_warehouse_spark.operators.quality import repetition_signals

    df = spark.createDataFrame(
        [(1, "x x x y"), (2, "u v")], "doc_id long, text string"
    )
    rows = {r.id: r for r in repetition_signals(df).collect()}
    r1 = rows[1]
    # bigrams of doc 1: "x x", "x x", "x y" -> top bigram count 2
    assert (r1.n_words, r1.n_distinct_words, r1.top_word_n, r1.top_bigram_n) == (4, 2, 3, 2)
    assert r1.dup_word_frac == 0.5
    assert r1.top_word_frac == 0.75
    r2 = rows[2]
    assert (r2.n_words, r2.top_bigram_n, r2.top_bigram_frac) == (2, 1, 1.0)


def test_source_mixture_shares_sum_to_one(spark, sf_dir):
    """Token shares partition the corpus: they sum to 1 and every source's
    tokens_per_doc is consistent with its totals."""
    from european_emissions_data_warehouse_spark.operators.quality import source_mixture

    docs = load_table(spark, sf_dir, "documents")
    rows = source_mixture(docs).collect()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert r.n_tokens > 0
        assert abs(r.tokens_per_doc - r.n_tokens / r.n_docs) < 1e-12


def test_chunk_dedup_keeps_first_occurrence_and_reassembles(spark):
    """Hand-built corpus with 2-word chunks: shared boilerplate survives
    only at its first (doc_id, chunk_idx); docs reassemble in chunk order;
    a doc made entirely of already-seen chunks dedups to empty text."""
    from european_emissions_data_warehouse_spark.operators.dedup import chunk_dedup

    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd"),          # chunks: "aa bb", "cc dd"
            (2, "aa bb ee ff"),          # "aa bb" already seen in doc 1
            (3, "cc dd cc dd"),          # both chunks already seen
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in chunk_dedup(docs, chunk_words=2).collect()
    }
    assert (out[1]["n_chunks"], out[1]["n_kept"], out[1]["dedup_text"]) == (2, 2, "aa bb cc dd")
    assert (out[2]["n_chunks"], out[2]["n_kept"], out[2]["dedup_text"]) == (2, 1, "ee ff")
    assert (out[3]["n_chunks"], out[3]["n_kept"], out[3]["dedup_text"]) == (2, 0, "")


def test_chunk_dedup_ragged_tail_chunk(spark):
    """A doc whose word count is not a multiple of the chunk width gets a
    short tail chunk, deduped like any other."""
    from european_emissions_data_warehouse_spark.operators.dedup import chunk_dedup

    docs = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "cc")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in chunk_dedup(docs, chunk_words=2).collect()}
    assert (out[1]["n_chunks"], out[1]["n_kept"], out[1]["dedup_text"]) == (2, 2, "aa bb cc")
    # doc 2's single chunk "cc" equals doc 1's tail chunk -> removed
    assert (out[2]["n_chunks"], out[2]["n_kept"], out[2]["dedup_text"]) == (1, 0, "")


def test_bpe_pair_counts_hand_example(spark):
    """BPE count step on a corpus small enough to count by hand: word
    frequencies weight the char pairs, top rows sort by count then pair."""
    from european_emissions_data_warehouse_spark.operators.tokenizer import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "abc ab"), (2, "ab x")],  # freqs: ab=2, abc=1, x=1
        "doc_id long, text string",
    )
    rows = [(r["pair"], r["pair_count"]) for r in bpe_pair_counts(docs, top_n=10).collect()]
    # pairs: "ab" from abc(1)+ab(2) = 3; "bc" from abc = 1; x has no pair
    assert rows == [("ab", 3), ("bc", 1)]


def test_bpe_apply_merge_hand_example(spark):
    """Applying the learned top merge on a hand-countable corpus: the rule
    is "ab"; every summary measure is wfreq-WEIGHTED (corpus occurrences,
    not distinct vocabulary entries — code-review r4, operators pass), so
    'ab' appearing twice in the corpus counts twice in words_touched."""
    from european_emissions_data_warehouse_spark.operators.tokenizer import bpe_apply_merge

    docs = spark.createDataFrame(
        [(1, "abab abc"), (2, "ab x ab")],
        "doc_id long, text string",
    )
    [r] = bpe_apply_merge(docs).collect()
    assert r["merge_pair"] == "ab"
    # vocab: abab(1), abc(1), ab(2), x(1) — touched occurrences 1+1+2
    assert r["words_touched"] == 4
    assert r["merges_applied"] == 2 + 1 + 2 * 1
    assert r["symbols_before"] == 4 + 3 + 2 * 2 + 1
    assert r["symbols_after"] == r["symbols_before"] - r["merges_applied"]


def test_cms_never_undercounts_and_is_bounded(spark, sf_dir):
    """CMS invariants over EVERY distinct corpus token (not just the
    top-10 the graded query reports): est >= true always (the structural
    guarantee), and the sketch table never exceeds depth x width rows."""
    from european_emissions_data_warehouse_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )
    from european_emissions_data_warehouse_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    depth, width = 4, 1024
    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    sketch = count_min_build(vocab, depth=depth, width=width, weight_col="true_count")
    assert sketch.count() <= depth * width
    est = count_min_estimate(vocab.select("token"), sketch, depth=depth, width=width)
    joined = vocab.join(est, "token")
    assert joined.filter(F.col("cms_est") < F.col("true_count")).count() == 0
    # a narrow sketch must still stay within the additive bound on this data
    n = vocab.agg(F.sum("true_count")).collect()[0][0]
    worst = joined.select(F.max(F.col("cms_est") - F.col("true_count"))).collect()[0][0]
    assert worst <= 2.0 * depth * n / width


def test_cms_weighted_build_equals_stream_build(spark):
    """Sketch linearity: building from (token, count) rows equals building
    from the exploded raw stream, counter for counter."""
    from european_emissions_data_warehouse_spark.operators.sketches import count_min_build
    from pyspark.sql import functions as F

    stream = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",), ("c",), ("c",)], "token string"
    )
    vocab = stream.groupBy("token").agg(F.count(F.lit(1)).alias("w"))
    s1 = {(r["row_j"], r["bucket"]): r["cnt"]
          for r in count_min_build(stream, depth=3, width=16).collect()}
    s2 = {(r["row_j"], r["bucket"]): r["cnt"]
          for r in count_min_build(vocab, depth=3, width=16, weight_col="w").collect()}
    assert s1 == s2


def test_mutual_nn_pairs_invariants(spark, sf_dir):
    """Mined pairs are truly mutual: each side appears at most once, the
    pair's sim is the max over both partners' candidate sets, and margins
    are non-negative."""
    from european_emissions_data_warehouse_spark.operators.similarity import (
        mutual_nn_pairs,
    )
    from european_emissions_data_warehouse_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    vecs = load_table(spark, sf_dir, "embeddings")
    pairs = mutual_nn_pairs(vecs, group_a=0, group_b=1).collect()
    assert pairs, "labels 0/1 must mine at least one mutual pair"
    a_ids = [r["id_a"] for r in pairs]
    b_ids = [r["id_b"] for r in pairs]
    assert len(a_ids) == len(set(a_ids)) and len(b_ids) == len(set(b_ids))
    assert all(r["margin_a"] is None or r["margin_a"] >= 0 for r in pairs)


def test_arrow_token_stats_matches_jvm_path(spark, sf_dir):
    """The mapInArrow kernel must agree with the JVM expression exactly —
    the zero-copy lane is an optimization, never a semantics change."""
    from european_emissions_data_warehouse_spark.functions.arrow_ops import (
        arrow_token_stats,
    )
    from european_emissions_data_warehouse_spark.functions.text import (
        char_count,
        ws_token_count,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # adversarial whitespace: trailing newline (Java split keeps the empty
    # tail), NBSP (Spark trim strips 0x20 only), vertical tab (Java \s has
    # it, RE2 \s does not), tab-only text (2 kept empties) — code-review r4
    tricky = spark.createDataFrame(
        [
            (90001, "a\n"),
            (90002, " "),
            (90003, "a\x0bb"),
            (90004, "\t"),
            (90005, "  x  "),
        ],
        "doc_id long, text string",
    )
    docs = docs.unionByName(tricky)
    arrow = {r["doc_id"]: (r["ws_tokens"], r["n_chars_text"])
             for r in arrow_token_stats(docs).collect()}
    jvm = {r["doc_id"]: (r["t"], r["c"])
           for r in docs.select(
               "doc_id",
               ws_token_count(F.col("text")).alias("t"),
               char_count(F.col("text")).alias("c"),
           ).collect()}
    assert arrow == jvm and arrow


def test_mutual_nn_ann_recall_vs_exact(spark, sf_dir):
    """The IVF-candidate miner must recover most exact mutual pairs, and
    every pair it emits must carry the true cosine of that pair."""
    from european_emissions_data_warehouse_spark.operators.similarity import (
        mutual_nn_pairs,
        mutual_nn_pairs_ann,
    )

    vecs = load_table(spark, sf_dir, "embeddings")
    exact = {(r["id_a"], r["id_b"]): r["sim"]
             for r in mutual_nn_pairs(vecs, group_a=0, group_b=1).collect()}
    approx = {(r["id_a"], r["id_b"]): r["sim"]
              for r in mutual_nn_pairs_ann(vecs, group_a=0, group_b=1,
                                           n_probe=4).collect()}
    hits = set(exact) & set(approx)
    assert len(hits) / len(exact) >= 0.6, (len(hits), len(exact))
    for pair in hits:
        assert abs(exact[pair] - approx[pair]) < 1e-9  # true cosine, not ADC


def test_bpe_train_hand_fixture(spark):
    """Full training loop vs rules derived by hand.

    Corpus: 'low low lower' -> vocab {low:2, lower:1}.
      iter1 pairs: (l,o):3 (o,w):3 (w,e):1 (e,r):1 -> tie (l,o)/(o,w)
        breaks lexicographically -> rule (l,o,3); words: [lo,w]x2 [lo,w,e,r]
      iter2: (lo,w):3 (w,e):1 (e,r):1 -> rule (lo,w,3)
      iter3: (low,e):1 (e,r):1 -> rule (e,r)? no: (low,e) vs (e,r) tie on
        count 1 -> 'e' < 'low' -> rule (e,r,1)
    """
    from european_emissions_data_warehouse_spark.operators.tokenizer import bpe_train

    docs = spark.createDataFrame(
        [(1, "low low lower")], "doc_id long, text string"
    )
    rules = bpe_train(docs, n_merges=3)
    assert rules == [("l", "o", 3), ("lo", "w", 3), ("e", "r", 1)]


def test_bpe_train_greedy_overlap(spark):
    """'aaaa' under rule (a,a) merges greedily left-to-right -> [aa][aa],
    so iteration 2's top pair is (aa, aa)."""
    from european_emissions_data_warehouse_spark.operators.tokenizer import bpe_train

    docs = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    rules = bpe_train(docs, n_merges=2)
    assert rules[0] == ("a", "a", 6)  # 3 adjacent pairs per word x 2 words
    assert rules[1] == ("aa", "aa", 2)


def test_bpe_encode_roundtrip_with_trained_rules(spark):
    """Train then encode: 'low low lower' with 2 merges (l+o, lo+w) ->
    'low' is 1 token, 'lower' is [low, e, r] = 3 tokens."""
    from european_emissions_data_warehouse_spark.operators.tokenizer import (
        bpe_encode,
        bpe_train,
    )

    docs = spark.createDataFrame([(1, "low low lower")], "doc_id long, text string")
    rules = bpe_train(docs, n_merges=2)
    [r] = bpe_encode(docs, rules).collect()
    assert (r["bpe_tokens"], r["n_words"]) == (1 + 1 + 3, 3)
    # no rules = character tokenization
    [r0] = bpe_encode(docs, []).collect()
    assert r0["bpe_tokens"] == len("low") * 2 + len("lower")


def test_bpe_symbols_with_quotes_and_backslashes(spark):
    """Merge symbols are bound as Column data, not spliced into SQL text
    (ADVICE r3): an apostrophe — a common top merge in real English text —
    or a backslash in the learned symbol must train and encode cleanly
    even with ANSI double-quoted-identifier parsing enabled."""
    from european_emissions_data_warehouse_spark.operators.tokenizer import (
        bpe_encode,
        bpe_train,
    )

    old = spark.conf.get("spark.sql.ansi.doubleQuotedIdentifiers", "false")
    spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    try:
        docs = spark.createDataFrame(
            [(1, "don't don't don't it's"), (2, r"a\'b a\'b")],
            "doc_id long, text string",
        )
        rules = bpe_train(docs, n_merges=3)
        # four pairs tie at count 3; ("'", "t") wins the lexicographic
        # tie-break (quote sorts before letters) — the top rule itself
        # carries the apostrophe the old SQL splicing mangled
        assert rules[0][:2] == ("'", "t")
        assert any("'" in left or "'" in right for left, right, _ in rules)
        enc = {r["doc_id"]: r["bpe_tokens"] for r in bpe_encode(docs, rules).collect()}
        assert enc[1] > 0 and enc[2] > 0
        # character tokenization baseline shrinks after merges apply
        base = {r["doc_id"]: r["bpe_tokens"] for r in bpe_encode(docs, []).collect()}
        assert enc[1] < base[1]
    finally:
        spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", old)


def test_bpe_encode_arrow_matches_expression_form(spark, sf_dir):
    """The Arrow-batched encoder (production path for 10^4+ rule lists)
    must be bit-identical to the expression-chain form on the same rules:
    same docs, same token counts, zero-word docs dropped by both."""
    from european_emissions_data_warehouse_spark.operators.tokenizer import (
        bpe_encode,
        bpe_encode_arrow,
        bpe_train,
    )

    docs = load_table(spark, sf_dir, "documents").limit(60)
    rules = bpe_train(docs, n_merges=6)
    assert len(rules) == 6
    expr = {tuple(r) for r in bpe_encode(docs, rules).collect()}
    arrow = {tuple(r) for r in bpe_encode_arrow(docs, rules).collect()}
    assert expr == arrow

    # greedy-overlap + quote symbols + a whitespace-only doc (must vanish)
    tricky = spark.createDataFrame(
        [(1, "aaaa don't a'a"), (2, "   "), (3, "aa aa aa")],
        "doc_id long, text string",
    )
    t_rules = bpe_train(tricky, n_merges=3)
    expr_t = {tuple(r) for r in bpe_encode(tricky, t_rules).collect()}
    arrow_t = {tuple(r) for r in bpe_encode_arrow(tricky, t_rules).collect()}
    assert expr_t == arrow_t
    assert not any(r[0] == 2 for r in arrow_t), "whitespace-only doc must drop"

    # Unicode whitespace: Java \s+ is ASCII-only, so NBSP / thin space /
    # NEL stay INSIDE words while \t\n\x0b\f\r split — the Arrow path must
    # reproduce the JVM tokenization exactly on scraped-web-style text
    # (code-review r4: Python str.split() is Unicode-aware and diverged).
    uni = spark.createDataFrame(
        [
            (10, "foo\u00a0bar baz"),          # NBSP glues foo+bar: 2 words
            (11, "a\u2009b\u0085c"),            # thin space + NEL: 1 word
            (12, "\tlead\ttab\nnl\x0bvt\fff\rcr "),  # ASCII ws all split
            (13, "\u00a0\u00a0"),               # NBSP-only: ONE nonempty word
        ],
        "doc_id long, text string",
    )
    expr_u = {tuple(r) for r in bpe_encode(uni, []).collect()}
    arrow_u = {tuple(r) for r in bpe_encode_arrow(uni, []).collect()}
    assert expr_u == arrow_u
    n_words_u = {r[0]: r[2] for r in expr_u}
    assert n_words_u == {10: 2, 11: 1, 12: 6, 13: 1}


def test_nb_quality_separates_classes(spark, sf_dir):
    """The classifier must assign higher mean log-odds to pseudo-good docs
    than pseudo-bad ones (it trained on exactly that signal)."""
    from european_emissions_data_warehouse_spark.functions.text import quality_score
    from european_emissions_data_warehouse_spark.operators.quality import (
        nb_quality_scores,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "pseudo_good", quality_score(F.col("text")) >= 0.5
    )
    scored = nb_quality_scores(docs, "pseudo_good").join(
        docs.select("doc_id", "pseudo_good"), "doc_id"
    )
    means = {
        r["pseudo_good"]: r["m"]
        for r in scored.groupBy("pseudo_good")
        .agg(F.avg("nb_logodds").alias("m"))
        .collect()
    }
    assert means[True] > means[False]


def test_incremental_minhash_dedup_matches_full_batch(spark, sf_dir, tmp_path):
    """Splitting the corpus into old+new and deduping new against the store
    must find exactly the full-batch pair set restricted to pairs touching
    the new half (signatures and banding hash identically), and survivors
    must enter the store while duplicates stay out."""
    from european_emissions_data_warehouse_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_lsh_pairs,
        minhash_store_init,
    )

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    store = str(tmp_path / "store")
    minhash_store_init(old, store)
    before = spark.read.parquet(store).count()

    inc = minhash_dedup_incremental(new, store)
    got = {(r["new_id"], r["dup_of"]) for r in inc.collect()}

    full = minhash_lsh_pairs(docs).collect()
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    want = set()
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if b in new_ids:
            want.add((b, a))   # later/new id is the duplicate
        elif a in new_ids:
            want.add((a, b))   # a is new, b is old
    assert got == want and got, (len(got), len(want))

    after = spark.read.parquet(store).count()
    n_new = new.count()
    n_dup_new = len({p[0] for p in got})
    assert after - before == (n_new - n_dup_new) * 8  # bands=8 rows per survivor


def test_minhash_survives_docs_shorter_than_k(spark):
    """Docs with fewer than k tokens must produce a signature, not abort:
    under Spark 4's default ANSI mode element_at past the array end throws
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT — the fixtures' min doc length was
    the only reason the MinHash family survived (code-review r4).  Missing
    positions fold as 0, the same convention as shingle_index's window
    leads, and near-identical short docs still collide.

    TOKEN-LESS docs (empty/whitespace/NULL text) get NO signature row:
    their gram was the content-free constant fold, so every token-less
    pair scored est_jaccard=1.0 while the ngram ground-truth verifier saw
    no shingles at all — in the incremental store that permanently dropped
    every later token-less doc as a dup of the first (code-review r4,
    final pass)."""
    from european_emissions_data_warehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "tiny doc here"), (2, "tiny doc here"), (3, "x"), (4, ""),
         (5, "   "), (6, None)],
        "doc_id long, text string",
    )
    sigs = {r["id"] for r in minhash_signatures(docs, "doc_id", "text", k=5).collect()}
    assert sigs == {1, 2, 3}, sigs  # token-less docs excluded, short docs kept
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.9).collect()
    }
    assert (1, 2) in pairs, "identical short docs must still collide"
    assert not any(4 in p or 5 in p or 6 in p for p in pairs), (
        "token-less docs must never be near-dup candidates"
    )


def test_minhash_signature_values_are_pinned(spark):
    """Signatures are a fixed function of the text: stores written by
    minhash_store_init are probed with freshly computed signatures, so any
    drift in the signature expression (operator precedence, int vs long
    literals under ANSI) would silently stop stored duplicates matching.
    Every slot is checked against a pure-Python evaluation of the
    (a_i, b_i) universal-hash family over the engine's own gram hashes,
    and a few slot values are pinned outright."""
    from european_emissions_data_warehouse_spark.operators.dedup import (
        _rolling_grams,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, "tiny doc"),
         (3, "Zürich grüßt δ λόγος 漢字 tokens here")],
        "doc_id long, text string",
    )
    mask = 2**31 - 1
    family = [
        (((2 * i + 1) * 0x9E3779B9) & mask | 1, (i * 0x85EBCA6B) & mask)
        for i in range(32)
    ]
    grams = {r.id: r.hs for r in _rolling_grams(docs, "doc_id", "text", 5, "word").collect()}
    sigs = {r.id: list(r.sig) for r in minhash_signatures(docs, "doc_id", "text", k=5).collect()}
    assert sigs.keys() == grams.keys() == {1, 2, 3}
    for doc_id, hs in grams.items():
        assert sigs[doc_id] == [min((h * a + b) & mask for h in hs) for a, b in family]
    assert sigs[1][:4] == [67650615, 302290704, 464503154, 414592444]
    assert sigs[2][:4] == [492759132, 1577616255, 514989730, 1599846853]
    assert sigs[3][:4] == [228158726, 783815037, 6497589, 458461126]
    assert (sigs[1][31], sigs[2][31], sigs[3][31]) == (438834945, 1911075225, 228538274)


def test_incremental_minhash_rejects_mismatched_params(spark, sf_dir, tmp_path):
    """Probing a store with a different num_hashes/bands convention must
    fail loudly: mismatched bucket hashes silently match NOTHING, admitting
    every cross-batch duplicate (code-review r4)."""
    from european_emissions_data_warehouse_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_store_init,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "store")
    minhash_store_init(docs.filter(F.col("doc_id") % 2 == 0), store)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    with pytest.raises(ValueError, match="mismatched"):
        minhash_dedup_incremental(new, store, num_hashes=64, bands=8)
    with pytest.raises(ValueError, match="mismatched"):
        minhash_dedup_incremental(new, store, k=7)


def test_chunk_dedup_conservation_properties(spark, sf_dir):
    """Structural invariants over the real corpus: kept chunks never exceed
    total chunks, reassembled text length never exceeds the original, and
    summing n_kept over docs equals the number of DISTINCT chunks in the
    corpus (each distinct chunk survives exactly once)."""
    from european_emissions_data_warehouse_spark.operators.dedup import chunk_dedup

    docs = load_table(spark, sf_dir, "documents")
    out = chunk_dedup(docs, chunk_words=16)
    assert out.filter(F.col("n_kept") > F.col("n_chunks")).count() == 0
    total_kept = out.agg(F.sum("n_kept")).collect()[0][0]
    distinct_chunks = (
        docs.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, cast(ceil(size(split(trim(text), '\\\\s+')) / 16.0) as int) - 1), "
                    "i -> array_join(slice(split(trim(text), '\\\\s+'), i * 16 + 1, 16), ' '))"
                )
            ).alias("chunk")
        )
        .distinct()
        .count()
    )
    assert total_kept == distinct_chunks


def test_simhash_covers_non_latin_and_empty_docs(spark):
    """Pure-CJK/Cyrillic documents must get fingerprints (the ASCII token
    class silently exempted whole language slices from near-dup detection;
    code-review r4), near-identical CJK docs must pair, and token-less docs
    keep a row (fingerprint 0) instead of vanishing."""
    from european_emissions_data_warehouse_spark.operators.dedup import (
        simhash,
        simhash_pairs,
    )

    zh = "数据 处理 引擎 训练 语料 " * 8
    ru = "обработка данных " * 8
    docs = spark.createDataFrame(
        [
            (1, zh),
            (2, zh + " 额外"),   # near-dup of 1
            (3, ru),
            (4, "!!! ... ???"),           # no tokens at all
            (5, "plain ascii text here"),
        ],
        "doc_id long, text string",
    )
    fps = {r["id"]: r["fingerprint"] for r in simhash(docs, "doc_id", "text").collect()}
    assert set(fps) == {1, 2, 3, 4, 5}, fps
    assert fps[1] != 0 and fps[3] != 0, "non-Latin docs must be fingerprinted"
    assert fps[4] == 0, "token-less doc carries the empty fingerprint"
    pairs = {(r["id_a"], r["id_b"]) for r in
             simhash_pairs(docs, max_hamming=6).collect()}
    assert (1, 2) in pairs, pairs


def test_empty_documents_never_crash_quality_functions(spark):
    """One empty or whitespace-only document in a raw corpus crashed
    punct_ratio/stopword_ratio/quality_score with DIVIDE_BY_ZERO under the
    ANSI-on session (code-review r4).  Guarded values: ratio 0.0, empty
    docs absent from the token-derived reports."""
    from european_emissions_data_warehouse_spark.functions.text import (
        punct_ratio,
        quality_score,
        stopword_ratio,
    )
    from european_emissions_data_warehouse_spark.operators.quality import (
        repetition_signals,
        token_rarity,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "the cat sat on the mat")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["p"], r["s"], r["q"])
        for r in docs.select(
            "doc_id",
            punct_ratio(F.col("text")).alias("p"),
            stopword_ratio(F.col("text")).alias("s"),
            quality_score(F.col("text")).alias("q"),
        ).collect()
    }
    assert rows[1][0] == 0.0 and rows[1][1] == 0.0
    assert rows[3][1] > 0
    # token-derived reports: empty docs drop instead of scoring a phantom
    # '' token as maximally repetitive
    rep = {r["id"] for r in repetition_signals(docs).collect()}
    assert rep == {3}, rep
    rar = {r["id"] for r in token_rarity(docs).collect()}
    assert rar == {3}, rar


def test_nb_quality_single_class_labels_raise(spark):
    """An all-good (or all-bad) pseudo-label slice makes the NB prior
    undefined — must fail with a diagnosis, not DIVIDE_BY_ZERO."""
    import pytest as _pytest

    from european_emissions_data_warehouse_spark.operators.quality import (
        nb_quality_scores,
    )

    docs = spark.createDataFrame(
        [(1, "good text here", True), (2, "more good text", True)],
        "doc_id long, text string, lbl boolean",
    )
    with _pytest.raises(Exception, match="single-class"):
        nb_quality_scores(docs, "lbl").collect()


def test_multimodal_null_payload_rejected_cleanly(spark):
    """A null payload must fail with a clear validation error naming the
    asset, not an opaque worker TypeError (code-review r4)."""
    from european_emissions_data_warehouse_spark.operators.multimodal import (
        extract_media_features,
    )

    media = spark.createDataFrame(
        [(1, "text/plain", bytearray(b"ok")), (2, "text/plain", None)],
        "asset_id long, media_type string, payload binary",
    )
    with pytest.raises(Exception, match="null payload.*asset_id"):
        extract_media_features(media, fake=True).collect()


def test_weighted_avg_udaf_degenerate_groups_are_null(spark):
    """SUM(p*q)/SUM(q) semantics: a group with only-null products or a
    zero/NULL weight sum aggregates to NULL, not a fabricated 0.0
    (code-review r4)."""
    from european_emissions_data_warehouse_spark.functions.udafs import weighted_avg

    df = spark.createDataFrame(
        [
            ("a", 10.0, 2.0), ("a", 20.0, 2.0),   # normal: (20+40)/4 = 15
            ("b", None, 5.0), ("b", None, 5.0),   # all-null prices -> NULL
            ("c", 10.0, 0.0),                     # zero weight -> NULL
        ],
        "g string, p double, q double",
    )
    got = {
        r["g"]: r["w"]
        for r in df.groupBy("g").agg(weighted_avg("p", "q").alias("w")).collect()
    }
    assert got["a"] == 15.0
    assert got["b"] is None and got["c"] is None


def test_bpe_apply_merge_empty_corpus_emits_summary_row(spark):
    """No length>=2 word -> no rule, but the contract still promises ONE
    zero-effect summary row (code-review r4: groupBy emitted zero rows and
    .first() crashed)."""
    from european_emissions_data_warehouse_spark.operators.tokenizer import (
        bpe_apply_merge,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    [r] = bpe_apply_merge(docs).collect()
    assert r["merge_pair"] is None
    assert r["merges_applied"] == 0 and r["words_touched"] == 0


def test_bpe_train_storage_stays_bounded(spark, sf_dir):
    """Each merge iteration must free the superseded vocabulary
    checkpoint: unswept blocks grew executor storage O(n_merges x vocab)
    (code-review r4)."""
    from european_emissions_data_warehouse_spark.operators.tokenizer import (
        _persistent_rdd_ids,
        bpe_train,
    )

    docs = load_table(spark, sf_dir, "documents").limit(50)
    before = len(_persistent_rdd_ids(spark))
    rules = bpe_train(docs, n_merges=5)
    assert rules, "fixture must learn at least one merge"
    after = len(_persistent_rdd_ids(spark))
    assert after - before <= 1, (
        f"superseded checkpoints leaked: {after - before} new persistent RDDs "
        "after a 5-merge train"
    )


def test_null_text_propagates_through_text_functions(spark):
    """One NULL policy per module (code-review r4): NULL text yields NULL
    ratios/shingles/fingerprints — not 0.0 ('perfectly clean'), not [NULL]
    (which made every null document an exact near-dup of every other:
    rolling_fingerprint collapsed to the constant [xxhash64(NULL)])."""
    from european_emissions_data_warehouse_spark.functions.text import (
        char_shingles,
        punct_ratio,
        rolling_fingerprint,
        stopword_ratio,
        word_shingles,
    )

    df = spark.createDataFrame([(None,), ("real text here",)], "text string")
    r = df.select(
        punct_ratio(F.col("text")).alias("p"),
        stopword_ratio(F.col("text")).alias("s"),
        char_shingles(F.col("text")).alias("cs"),
        word_shingles(F.col("text")).alias("ws"),
        rolling_fingerprint(F.col("text")).alias("fp"),
    ).collect()
    nulls = next(x for x in r if x["cs"] is None or (x["p"] is None))
    assert nulls["p"] is None and nulls["s"] is None
    assert nulls["cs"] is None and nulls["ws"] is None and nulls["fp"] is None
    real = next(x for x in r if x["cs"] is not None)
    assert real["p"] is not None and real["cs"]


def test_stopword_ratio_clamped_to_probability_range(spark):
    """\\b-bounded hits inside one hyphenated token exceeded the
    whitespace-token count, exporting stop_ratio = 3.0 as a 'fraction'
    (code-review r4) — now clamped to [0, 1]."""
    from european_emissions_data_warehouse_spark.functions.text import stopword_ratio

    df = spark.createDataFrame([("the-and-of",), ("the cat",)], "text string")
    vals = [r["s"] for r in df.select(stopword_ratio(F.col("text")).alias("s")).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals), vals


def test_mask_pii_does_not_merge_numeric_spans_across_lines(spark):
    """The unbounded [0-9()\\-\\s]{7,} phone span crossed newlines and
    swallowed whole numeric tables into one <PHONE> (code-review r4); the
    bounded single-separator form keeps each line's content while still
    masking phone-shaped runs."""
    from european_emissions_data_warehouse_spark.functions.text import mask_pii

    text = "revenue by year:\n2020 123\n2021 456\n2022 789 done"
    (out,) = spark.createDataFrame([(text,)], "text string").select(
        mask_pii(F.col("text")).alias("m")
    ).collect()[0]
    assert out.count("\n") == 3, f"newlines destroyed: {out!r}"
    assert "done" in out
    assert out.count("<PHONE>") >= 1  # each line masks independently at most

    phone = "call +1 (415) 555-0199 now"
    (out2,) = spark.createDataFrame([(phone,)], "text string").select(
        mask_pii(F.col("text")).alias("m")
    ).collect()[0]
    assert "<PHONE>" in out2 and "call" in out2 and "now" in out2


def test_vector_guards_null_and_zero_scale(spark):
    """norm(NULL) is NULL (not the 1e-150 floor — greatest() skips nulls),
    matching embedding_stats_udf; int8_quant_max_err at scale 0 returns
    NULL instead of an ANSI DIVIDE_BY_ZERO abort (code-review r4)."""
    from european_emissions_data_warehouse_spark.functions.vectors import (
        int8_quant_max_err,
        norm,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, None), (3, [3.0, 4.0])],
        "id long, v array<double>",
    )
    rows = {r["id"]: r for r in df.select(
        "id",
        norm(F.col("v")).alias("n"),
        int8_quant_max_err(F.col("v"), F.lit(0.0)).alias("e0"),
        int8_quant_max_err(F.col("v"), F.lit(25.4)).alias("e"),
    ).collect()}
    assert rows[2]["n"] is None
    assert rows[3]["n"] == 5.0
    assert rows[1]["n"] == 1e-150  # zero vector keeps the divide floor
    assert rows[1]["e0"] is None and rows[3]["e0"] is None
    assert rows[3]["e"] is not None and rows[3]["e"] >= 0.0


def test_text_quality_oracles_lockstep_on_degenerate_docs(spark, tmp_path):
    """Engine vs DuckDB oracle on exactly the document classes the fixtures
    lack: NULL text, tab-only text (slips past length(trim()) guards),
    hyphen-joined stopwords (ratio numerator > denominator), and a
    multi-line numeric table (phone-regex bait).  DuckDB's LEAST/GREATEST
    SKIP NULLs, so an unguarded NULL quotient fabricates 1.0 — this pins
    the token-count guards added in code-review r4 (second pass)."""
    import duckdb
    import math

    import __spark_entry__ as entry_mod

    docs = [
        (1, None, "en", "web"),
        (2, "\t", "en", "web"),
        (3, "   ", "en", "web"),
        (4, "the-and-of", "en", "web"),
        (5, "revenue by year:\n2020 123\n2021 456\n2022 789 done", "en", "web"),
        (6, "the cat sat on the mat with a hat and the bat", "en", "web"),
        (7, "", "en", "web"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string, source string")
    sf = str(tmp_path)
    df.withColumn("n_chars", F.length("text").cast("long")).write.mode(
        "overwrite"
    ).parquet(f"{sf}/documents.parquet")

    con = duckdb.connect()
    # Spark writes a part-file DIRECTORY; DuckDB needs the glob form
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    Q, O = entry_mod.queries(), entry_mod.oracle_sql()

    def norm_cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.12g}"
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    for name in ("text_stats", "text_clean", "quality_weighted_sample", "nb_quality"):
        sdf = Q[name](spark, sf)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        ores = con.execute(O[name]).fetchall()
        ocols = [d[0] for d in con.description]
        order_s = sorted(range(len(scols)), key=lambda i: scols[i])
        order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
        a = sorted(tuple(norm_cell(r[i]) for i in order_s) for r in srows)
        b = sorted(tuple(norm_cell(r[i]) for i in order_o) for r in ores)
        assert sorted(scols) == sorted(ocols), (name, scols, ocols)
        assert a == b, (name, a[:4], b[:4])
    con.close()


def test_sample_frames_empty_payload_has_zero_frames(spark):
    """An empty payload must emit NO frame rows — the old max(1, ceil)
    floor fabricated a phantom (frame_no=0, 0 bytes, md5(b'')) row per
    empty asset (code-review r4, operators pass)."""
    from european_emissions_data_warehouse_spark.operators.multimodal import sample_frames

    media = spark.createDataFrame(
        [(1, bytearray(b""), "video"), (2, bytearray(b"x" * 100), "video")],
        "asset_id long, payload binary, media_type string",
    )
    rows = sample_frames(media, frame_size=64, every=2, fake=True).collect()
    assert all(r["asset_id"] == 2 for r in rows), rows
    assert len(rows) == 1  # ceil(100/64)=2 frames, every 2nd -> frame 0 only


def test_dedup_family_conserves_degenerate_docs(spark, tmp_path):
    """NULL/empty/whitespace docs through the exact-dedup family
    (code-review r4, final pass): dedup_exact must not abort with a false
    collision on NULL text (all NULL texts are ONE identity, distinct from
    ''), and chunk_dedup must keep one output row per input doc — NULL
    text used to vanish (no chunk rows, inner verdict join) and
    token-less docs fabricated TWO phantom chunks (sequence(0,-1)
    descends).  Engine and DuckDB oracle compared on exactly this corpus."""
    import duckdb
    import math

    import __spark_entry__ as entry_mod
    from european_emissions_data_warehouse_spark.operators.dedup import dedup_exact

    docs = [
        (1, None, "en", "web"),
        (2, None, "en", "web"),
        (3, "", "en", "web"),
        (4, "   ", "en", "web"),
        (5, "real words in this document repeated words in this document", "en", "web"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string, source string")

    got = {r["keep_id"]: r["n_copies"] for r in dedup_exact(df).collect()}
    assert got[1] == 2, got       # both NULL docs -> one group, min id kept
    assert got[3] == 1 and got[5] == 1
    assert 4 in got               # '   ' distinct from '' (different text)

    sf = str(tmp_path)
    df.withColumn("n_chars", F.length("text").cast("long")).write.mode(
        "overwrite"
    ).parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    Q, O = entry_mod.queries(), entry_mod.oracle_sql()
    sdf = Q["chunk_dedup"](spark, sf)
    srows = sorted(tuple(r) for r in sdf.collect())
    orows = sorted(tuple(r) for r in con.execute(O["chunk_dedup"]).fetchall())
    con.close()
    assert len(srows) == 5, srows  # conservation: every doc one row

    def norm_row(t):
        return tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in t)

    assert [norm_row(r) for r in srows] == [norm_row(r) for r in orows]
    by_id = {r[0]: r for r in srows}
    assert by_id[1][1] == 1 and by_id[1][2] <= 1  # one empty chunk, no phantoms
