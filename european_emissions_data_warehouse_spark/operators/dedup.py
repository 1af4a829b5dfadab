"""Deduplication operator family for training-data pipelines
(SURVEY.md §2.3): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the reason each shape was chosen):

- exact       — one hash-groupBy shuffle on the text (or its xxhash64);
                the canonical first pass at any corpus size.
- ngram       — exact Jaccard via shingle inverted index: explode -> join on
                shingle -> per-pair intersection counts.  Quadratic in the
                worst case; used as the *verifier* for candidate pairs and as
                ground truth at test scale.
- minhash_lsh — the 100 TB path: constant-size signature per doc (H hashes),
                banded into b buckets; only same-bucket docs ever meet in the
                join, so the shuffle volume is O(docs x b), not O(docs^2).
- simhash     — 63-bit fingerprint per doc; Hamming-ball candidates via
                banded equality (pigeonhole), verified with bit_count(xor).

Everything is built-in expressions (xxhash64, transform/aggregate, bitwise,
explode/groupBy/join) — no Python UDFs; hashes are Spark-deterministic, so
results are reproducible but intentionally *not* SQL-oracle-expressible
(DuckDB has no xxhash64): the driver records rows-only checks for the
sketch-based variants and full oracle checks for exact/ngram.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    IntegralType,
    StringType,
    StructField,
    StructType,
)

from european_emissions_data_warehouse_spark.functions.frames import literal_frame



def content_keys(text_col) -> tuple:
    """Two independent 64-bit xxhash64 streams over the text — a 128-bit
    content identity whose collision odds (~n²·2⁻¹²⁹) are far below any
    hardware error rate.  Grouping on these instead of the text itself means
    the dedup shuffle carries 16-byte keys, not document bodies — the
    difference between moving ~1% and ~100% of a 100 TB corpus through the
    exchange."""
    return (
        F.xxhash64(text_col),
        F.xxhash64(F.lit("xx2"), text_col),
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: one row per distinct text, keeping the smallest id.

    Output: (keep_id, n_copies).  Groups on the 128-bit :func:`content_keys`
    identity so the shuffle moves 16-byte keys instead of document bodies
    (VERDICT r2 item #2 — previously a full-text groupBy).  Equality within
    hash groups is re-verified with the cheapest necessary condition that
    survives aggregation — min/max text length must agree — and any
    violation fails the job loudly rather than merging distinct texts.
    """
    h1, h2 = content_keys(F.col(text_col))
    keyed = docs.select(
        h1.alias("_h1"),
        h2.alias("_h2"),
        # -1 sentinel for NULL text (no real length is negative): the bare
        # length() made _lmin/_lmax NULL, NULL == NULL is NULL, and the
        # when() fell into raise_error — one NULL-text doc aborted the
        # whole corpus dedup claiming a hash collision that never happened
        # (code-review r4, final pass).  xxhash64 hashes all NULL texts to
        # one group (the seed), so they dedup together — NULL content is
        # one identity, distinct from '' (different hash, length 0 vs -1).
        F.coalesce(F.length(F.col(text_col)), F.lit(-1)).alias("_len"),
        F.col(id_col).cast("long").alias("_id"),
    )
    grouped = keyed.groupBy("_h1", "_h2").agg(
        F.min("_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("_len").alias("_lmin"),
        F.max("_len").alias("_lmax"),
    )
    return grouped.select(
        # the length check feeds keep_id so the optimizer cannot prune it
        F.when(F.col("_lmin") == F.col("_lmax"), F.col("keep_id"))
        .otherwise(F.raise_error(F.lit("dedup_exact: 128-bit content-hash collision")).cast("long"))
        .alias("keep_id"),
        "n_copies",
    )


# Rolling-gram machinery: k-gram *identities* as integers, never as strings.
# One xxhash64 pass over tokens, then each k-gram position is a rolling
# polynomial over the token hashes — ANSI-safe 31-bit arithmetic
# (acc<2^31 * C<2^31 + h<2^31 < 2^62, masked back to 31 bits each step).
_MASK, _C1, _C2 = 0x7FFFFFFF, 0x01000193, 0x0100012D

_fold31 = lambda c: c.bitwiseXOR(F.shiftright(c, 32)).bitwiseAND(F.lit(_MASK))  # noqa: E731
_fold31b = lambda c: F.shiftright(c, 16).bitwiseXOR(c).bitwiseAND(F.lit(_MASK))  # noqa: E731


def _split_tokens(text_col, unit: str):
    # non-empty tokens only (word unit): trim() strips only 0x20, so edge
    # \t/\n injected phantom ''-token grams and changed the shingle set —
    # two docs differing only by a trailing newline failed to pair as
    # duplicates; matches functions/text.ws_tokens and every oracle's
    # list_filter convention (code-review r4).  array_remove, not a lambda
    # HOF (interpreted) and not an edge-strip regexp (double-evaluated):
    # bench-measured fastest of the element-identical forms.
    if unit == "word":
        return F.array_remove(F.split(F.trim(text_col), r"\s+"), "")
    return F.split(text_col, "")


def _rolling_grams(docs: DataFrame, id_col: str, text_col: str, k: int, unit: str) -> DataFrame:
    """(id, n_toks, hs array<long>) — one 31-bit gram per k-gram position,
    as an in-row array (narrow, no shuffle).  ``n_toks`` is the token count
    (0 for empty/whitespace/NULL text) — token-less docs still carry the
    content-free [0]-fold in ``hs``, so consumers that must not pair them
    filter ``n_toks > 0`` (the gram VALUE can't distinguish them: a real
    doc may legitimately fold to 0).  For operators that *aggregate* the
    array in place (MinHash's array_min) — never explode this array: Spark
    evaluates an interpreted higher-order-function child once per generated
    row, turning explode(transform(...)) into O(n²) work.  Exploding
    consumers use :func:`shingle_index`'s window form instead."""
    # Token hashes materialized in their own projection: inlining the
    # transform into every element_at reference below would re-evaluate it
    # per reference (no CSE in interpreted HOF eval).
    hashed = docs.select(
        F.col(id_col).alias("id"),
        F.transform(_split_tokens(F.col(text_col), unit), lambda t: _fold31(F.xxhash64(t))).alias("th"),
    )
    th = F.col("th")
    n_pos = F.greatest(F.size(th) - F.lit(k - 1), F.lit(1))

    def gram_at(i):
        # try_element_at, NOT element_at: under Spark 4's default ANSI mode
        # element_at past the array end ABORTS the job, so any doc shorter
        # than k tokens killed the whole MinHash family (tests passed only
        # because no fixture doc is that short; code-review r4).  Null pads
        # fold to 0 — the same convention shingle_index's window form uses
        # for leads past the end, so both gram forms agree on short docs.
        acc = F.coalesce(F.try_element_at(th, i), F.lit(0))
        for j in range(1, k):
            nxt = F.coalesce(F.try_element_at(th, i + F.lit(j)), F.lit(0))
            acc = (acc * F.lit(_C1) + nxt).bitwiseAND(F.lit(_MASK))
        return acc

    return hashed.select(
        "id",
        F.coalesce(F.size(th), F.lit(0)).alias("n_toks"),
        F.transform(F.sequence(F.lit(1), n_pos), gram_at).alias("hs"),
    )


def shingle_index(
    docs: DataFrame, id_col: str, text_col: str, k: int = 5, unit: str = "word"
) -> DataFrame:
    """Inverted index: (shingle, id, n_shingles) — one row per distinct
    shingle per doc, shingle as a 62-bit gram hash (8-byte join keys instead
    of n-gram strings: cheaper to build, hash, and shuffle; collision odds
    ~n²/2⁶² per doc are below the float-noise floor).

    Whole-stage-codegen shape: explode raw tokens (native split — generators
    over interpreted HOF arrays re-evaluate per output row, see
    :func:`_rolling_grams`), hash each token once, then form each position's
    k-gram with window LEADs over token order.  Two independent 31-bit
    polynomials pack into the 62-bit identity.  One shuffle on doc id,
    shared by every downstream step: dedup + per-doc count run as ONE
    ``groupBy(id).collect_set`` on the window's own partitioning, then
    explode the set — not ``distinct()`` + count-over-window, whose
    count window re-SORTED the whole distinct gram stream by id after the
    distinct aggregate destroyed the window's sort order (r9 optimization:
    Sort+Window -> Generate, ~7% off every consumer of the index; the
    r9 in-row explode(transform) alternative re-measured 86x SLOWER —
    interpreted-HOF generator children are evaluated per OUTPUT row).

    Memory bound (VERDICT r9 item #4): the ``collect_set`` buffer holds
    ONE document's distinct shingles on the task heap (~40 B per boxed
    long), i.e. ~40 MB per million distinct shingles — not spillable,
    unlike the old sort.  This is NOT a new ceiling: every text path in
    the engine already materializes per-document token arrays in one row
    (``_rolling_grams``' hash array, chunk_dedup's ``_toks``, the window
    itself buffers one doc's token partition), so a document must fit in
    task memory regardless of this aggregate.  Measured: a 200k-distinct-
    token document (~2.6 MB text) indexes in single-digit seconds with
    default task memory (tests/test_llm_ops.py::
    test_shingle_index_adversarially_long_doc); a document large enough
    to break the buffer (~25M+ distinct shingles, ~150 MB+ of text in ONE
    row at 1 GiB task heap) breaks the tokenize window first and belongs
    behind an ingest-side length gate, not a per-operator fallback."""
    from pyspark.sql import Window

    from european_emissions_data_warehouse_spark.sources.readers import (
        spread_small_scan,
    )

    # Spread the DOC rows before exploding (r9): the gram windows need
    # hashpartitioning(id) anyway, so repartitioning the (id, text) rows on
    # id when the source is under-split (a) runs tokenize+hash at full
    # parallelism instead of at the scan's 1-2 splits, and (b) moves the
    # exchange BELOW the explode — one row per doc crosses it instead of
    # one row per token (the window otherwise shuffles the whole exploded
    # (id, pos, h1, h2) token stream).  A strict no-op on an amply-split
    # production scan (spread_small_scan's guard).
    sel = spread_small_scan(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")), "id"
    )
    toks = sel.select(
        "id",
        F.posexplode(_split_tokens(F.col("_t"), unit)).alias("pos", "tok"),
    )
    th = toks.select(
        "id",
        "pos",
        _fold31(F.xxhash64("tok")).alias("h1"),
        _fold31b(F.xxhash64("tok", F.lit(1))).alias("h2"),
    )
    w = Window.partitionBy("id").orderBy("pos")

    def poly(hcol: str, mult: int):
        acc = F.col(hcol)
        for j in range(1, k):
            acc = (acc * F.lit(mult) + F.coalesce(F.lead(hcol, j).over(w), F.lit(0))).bitwiseAND(
                F.lit(_MASK)
            )
        return acc

    n_toks = F.count(F.lit(1)).over(Window.partitionBy("id"))
    grams = th.select(
        "id",
        "pos",
        (poly("h1", _C1) * F.lit(1 << 31) + poly("h2", _C2)).alias("shingle"),
        n_toks.alias("n_toks"),
    )
    # valid k-gram start positions; docs shorter than k keep pos 0 (single
    # zero-padded gram — mirrors the whole-text shingle of the string form).
    # collect_set = distinct (shingle is never NULL: every poly input is
    # coalesced); the aggregate's required distribution (id) is satisfied
    # by the window's id-partitioning, so no exchange and no re-sort.
    agg = (
        grams.filter((F.col("pos") <= F.col("n_toks") - k) | (F.col("pos") == 0))
        .groupBy("id")
        .agg(F.collect_set("shingle").alias("_sh"))
    )
    return agg.select(
        "id",
        F.size("_sh").cast("long").alias("n_shingles"),
        F.explode("_sh").alias("shingle"),
    ).select("id", "n_shingles", "shingle")


def _cap_shingles(idx: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df`` — as a
    groupBy-df + left-anti join, never a count-over-window (the window
    form sorts every occurrence row; see :func:`ngram_jaccard_pairs`).
    Factored out so the plan shape is test-pinned on the exact code path
    the operators use (tests/test_plan_quality.py)."""
    hot = (
        idx.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("shingle")
    )
    return idx.join(hot, "shingle", "left_anti")


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    unit: str = "word",
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: (id_a, id_b, jaccard) with
    id_a < id_b and jaccard >= threshold.

    Inverted-index join: |intersection| from counting co-occurring shingles,
    |union| = n_a + n_b - |intersection|.  The join key is the shingle, so
    common shingles dominate cost: one viral boilerplate shingle shared by
    m documents contributes m² join rows.  ``max_df`` is the stop-shingle
    cap — shingles whose document frequency exceeds it are dropped BEFORE
    the self-join, bounding any key's fan-out to max_df² while the union
    denominator keeps the full per-doc shingle counts, so the capped
    jaccard is a conservative underestimate (a pair can only lose
    intersection mass, never gain it).  Set it at web-corpus scale.

    The cap is an aggregate + anti-join, NOT a count-over-window: the
    window form shuffled AND SORTED every shingle occurrence row just to
    attach a per-key count (WindowExec sorts its partition keys), which
    measured SLOWER than the uncapped query on a 500k-doc corpus with no
    viral shingles (round 6: 39.5 s capped vs 20.6 s uncapped at
    sf10pert).  The groupBy df pass partial-aggregates map-side (the
    exchange carries distinct shingles, not occurrences), the hot set
    (df > max_df) is the small side by construction — a thin head of
    boilerplate shingles on a web corpus — so the planner broadcasts it,
    and the occurrence stream is never sorted.  Same rows out."""
    idx = shingle_index(docs, id_col, text_col, k, unit)
    if max_df is not None:
        idx = _cap_shingles(idx, max_df)
    # one materialization of the inverted index — the self-join would
    # otherwise rebuild it (explode + rolling-gram windows) per side
    idx = idx.localCheckpoint(eager=False)
    a = idx.select(
        F.col("id").alias("id_a"), F.col("n_shingles").alias("n_a"), "shingle"
    )
    b = idx.select(
        F.col("id").alias("id_b"), F.col("n_shingles").alias("n_b"), "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def contamination_overlap(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    unit: str = "word",
) -> DataFrame:
    """Benchmark decontamination: training documents sharing at least one
    k-gram with any document in the evaluation set — (id, n_grams,
    n_shared_grams, shared_frac), one row per contaminated training doc.

    This is the exact n-gram overlap screen LLM pipelines run against held
    out benchmarks before training (the GPT-3 appendix's 13-gram rule is
    this operator with k=13).  Both sides reuse :func:`shingle_index`'s
    62-bit rolling-gram identities, so the probe carries 8-byte keys, not
    n-gram strings.  The eval gram set's join strategy is SIZE-BASED, not
    hinted: a true benchmark suite (thousands of docs) broadcasts and the
    training corpus never shuffles — but a caller passing a
    corpus-proportional eval slice (q_decontaminate's %7 stand-in) would
    have hard-failed an explicit hint on the 8 GB broadcast ceiling at
    100 TB; the planner falls back to a shuffle join keyed on the 8-byte
    gram there instead (code-review r4, scale pass).
    """
    ti = shingle_index(train, id_col, text_col, k, unit)
    eval_grams = (
        shingle_index(eval_docs, id_col, text_col, k, unit)
        .select("shingle")
        .distinct()
    )
    return _contamination_tail(ti, eval_grams)


def _contamination_tail(ti: DataFrame, eval_grams: DataFrame) -> DataFrame:
    """The probe join + per-doc aggregate shared by both contamination
    forms (two-table and partitioned-one-table)."""
    return (
        ti.join(eval_grams, "shingle")
        .groupBy("id")
        .agg(
            F.min("n_shingles").alias("n_grams"),
            F.count(F.lit(1)).alias("n_shared_grams"),
        )
        .select(
            "id",
            "n_grams",
            "n_shared_grams",
            (F.col("n_shared_grams") / F.col("n_grams")).alias("shared_frac"),
        )
    )


def contamination_overlap_partitioned(
    docs: DataFrame,
    eval_pred,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    unit: str = "word",
) -> DataFrame:
    """:func:`contamination_overlap` for the common case where the training
    and evaluation sides are COMPLEMENTARY row subsets of one table
    (``eval_pred`` over the shingle index's ``id`` column selects the eval
    docs; everything else is training).  The two-frame form scans and
    shingles the corpus twice — each side reads every row group and
    filters — where one build suffices: :func:`shingle_index` is a
    per-document operator, so filtering its OUTPUT by id is row-identical
    to filtering its input (r9 optimization, guide §1.2: one corpus
    scan/tokenize/window pass instead of two).  The index is materialized
    once (lazy localCheckpoint) and both sides filter the checkpoint.

    ``eval_pred`` is evaluated against the INDEX, whose id column is
    always named ``id`` (the caller's ``id_col`` is renamed by
    shingle_index) — so pass a CALLABLE over the id column,
    ``eval_pred=lambda id_c: id_c % 7 == 0``, and this function applies
    it to ``F.col("id")``.  A plain Column is still accepted for
    back-compat, but it must reference ``id``: a caller naturally writing
    ``F.col("doc_id")`` against a ``doc_id`` corpus got an
    AnalysisException, and a Column over any other index column
    (n_shingles/shingle) would be accepted but select gram-level rows,
    not a doc partition at all (ADVICE r9)."""
    if callable(eval_pred):
        eval_pred = eval_pred(F.col("id"))
    idx = shingle_index(docs, id_col, text_col, k, unit).localCheckpoint(eager=False)
    eval_grams = idx.filter(eval_pred).select("shingle").distinct()
    ti = idx.filter(~eval_pred)
    return _contamination_tail(ti, eval_grams)


# Largest raw edge count connected_components labels on the driver; above
# it, the distributed star contraction runs.  See connected_components.
_DRIVER_EDGES = 10_000


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iters: int = 50
) -> DataFrame:
    """Cluster near-duplicate pairs into connected components:
    (id, component) for every id in ``pairs``, with component = the
    smallest id reachable through the pair graph.  This is the step that
    turns pairwise near-dup evidence into dedup *groups* (keep component,
    drop the rest).

    Near-dup graphs are mostly small, so the first step is ONE bounded
    collect of at most ``_DRIVER_EDGES + 1`` pair rows.  If the whole graph
    came back, a driver union-find labels it (the smallest id is each
    root) and the labels return as a folded literal frame
    (functions/frames.literal_frame, which is meant for codebook-sized
    data): one Spark job plus the consumer's own, instead of a job per
    round.  Larger graphs take the large-star/small-star contraction
    (:func:`_star_components`), as do id types the JSON literal cannot
    carry exactly (only integral and default-collation string ids take the
    driver path).  ``max_iters`` caps the star rounds.

    Bound, measured on 4 cores (local[4]) over random sparse graphs read
    from parquet, each path ending in a parquet write, median of 3: driver
    vs star 0.38 vs 4.8 s at 1k edges, 0.37 vs 5.0 s at 10k, 0.89 vs 6.3 s
    at 30k, 2.9 vs 9.7 s at 100k, 8.1 vs 24.5 s at 300k (one run).  The
    star rounds never caught up in time, so the bound sits where the
    driver path stops costing a flat ~0.4 s: 10k edges, at most 20k
    labelled nodes, under 1 MB of JSON literal.  Past it the literal stops
    being codebook-sized, and every consumer's plan carries it.
    """
    edges = pairs.select(
        F.least(F.col(id_a), F.col(id_b)).alias("lo"),
        F.greatest(F.col(id_a), F.col(id_b)).alias("hi"),
    )
    dtype = edges.schema["lo"].dataType
    if isinstance(dtype, IntegralType) or dtype == StringType():
        # coalesce(1): one task reads partitions in turn until the limit,
        # so the bounded collect is one job however the input is split
        rows = edges.coalesce(1).limit(_DRIVER_EDGES + 1).collect()
        if len(rows) <= _DRIVER_EDGES:
            return _union_find_components(pairs.sparkSession, rows, dtype)
    return _star_components(pairs, id_a, id_b, max_iters)


def _union_find_components(spark, edges: list, dtype: DataType) -> DataFrame:
    """(id, component) of canonical (lo, hi) edges, labeled on the driver.
    Self-loops only add their node; a (NULL, NULL) edge labels NULL with
    NULL, as the star path does."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for lo, hi in edges:
        parent.setdefault(lo, lo)
        parent.setdefault(hi, hi)
        if lo != hi:
            ra, rb = find(lo), find(hi)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    schema = StructType([StructField("id", dtype), StructField("component", dtype)])
    return literal_frame(spark, [(n, find(n)) for n in parent], schema)


def _star_components(pairs: DataFrame, id_a: str, id_b: str, max_iters: int) -> DataFrame:
    """Connected components via alternating large-star/small-star rewrites
    (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    distributed path of :func:`connected_components`, same contract.

    The star rewrites contract the graph itself — each round rewires nodes
    directly toward their partition minimum, so the round count is
    O(log n) *independent of diameter* and the edge set shrinks toward one
    star per component.  Each half-round is one groupBy-min plus one join,
    both keyed on node id; ``localCheckpoint`` truncates lineage.

    - large-star: every node's strictly-larger neighbors re-attach to the
      minimum of its closed neighborhood (keeps the graph connected, never
      grows edges above the original count).
    - small-star: every node and its smaller neighbors re-attach to its
      minimum smaller neighbor (the contraction step).

    Fixpoint = the edge set is stable, at which point edges form stars
    (root = component minimum).  Every node that appears in ``pairs`` gets
    a label, including one that appears only in (x, x) pairs."""

    def canon(df: DataFrame, a: str, b: str) -> DataFrame:
        return (
            df.select(
                F.least(F.col(a), F.col(b)).alias("lo"),
                F.greatest(F.col(a), F.col(b)).alias("hi"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )

    def checksum(df: DataFrame) -> tuple:
        """One-action set fingerprint of a canonical edge frame: cardinality
        + xor + overflow-safe decimal sum of per-edge hashes.  Two distinct
        edge sets colliding on all three is ~2^-128; one partial-aggregable
        job per round, where count() + exceptAll().count() took two jobs,
        one of them a wide shuffle."""
        h = F.xxhash64("lo", "hi")
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(lo, hi))"), F.lit(0)).alias("x"),
            F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0)).alias("s"),
        ).first()
        return (row["n"], row["x"], row["s"])

    # lazy: each frame materializes inside its first consuming job (the
    # checksum action) instead of a separate blocking pass.  ONE canonical
    # distinct pass over the (possibly expensive) pairs lineage, KEEPING
    # self-loops: the node universe must see nodes that appear only in
    # (x, x) pairs, and deriving it from the raw pairs would re-run the
    # upstream pair pipeline.
    canon0 = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("lo"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("hi"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges = canon0.filter(F.col("lo") != F.col("hi")).localCheckpoint(eager=False)
    edges_sum = checksum(edges)
    n_nodes_seen = (
        canon0.select(F.col("lo").alias("id"))
        .unionByName(canon0.select(F.col("hi").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    for _ in range(max_iters):
        # large-star
        sym = edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
            edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        # single consumer (the small-star step) — no checkpoint needed; the
        # per-round nxt checkpoint already truncates lineage
        mid = canon(large, "a", "b")

        # small-star (edges directed larger -> smaller)
        down = mid.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        mins2 = down.groupBy("u").agg(F.min("v").alias("m"))
        out = (
            down.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
        )
        nxt = canon(out, "a", "b").localCheckpoint(eager=False)

        nxt_sum = checksum(nxt)
        if nxt_sum == edges_sum:
            edges = nxt
            break
        edges, edges_sum = nxt, nxt_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} star rounds"
        )

    # stars: every hi points at its component root (lo); roots label themselves
    members = edges.select(F.col("hi").alias("id"), F.col("lo").alias("component"))
    roots = (
        edges.select(F.col("lo").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    labeled = members.unionByName(roots).groupBy("id").agg(
        F.min("component").alias("component")
    )
    # isolated-after-contraction safety: every input node gets a label
    return n_nodes_seen.join(labeled, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


# --- MinHash + LSH -----------------------------------------------------------


def minhash_signatures(
    docs: DataFrame, id_col: str, text_col: str, k: int = 5, unit: str = "word",
    num_hashes: int = 32
) -> DataFrame:
    """(id, sig array<long>[num_hashes]) — classic universal-hash MinHash:
    each k-gram gets an integer identity from one token-hash pass + a rolling
    polynomial (never a shingle string), then the i-th signature slot is the
    min of an integer permutation (a_i*h + b_i) & (2^31-1) over the gram
    hashes.  All narrow (no shuffle); ~10x cheaper than hashing shingle
    strings per slot.

    Token-less docs (empty/whitespace/NULL text) get NO signature row: their
    gram array is the content-free constant [0]-fold, so they would all
    share one signature and pair as est_jaccard=1.0 duplicates that the
    shingle_index/ngram_jaccard verifier (which emits no shingles for them)
    could never confirm.  No content, no near-dup claim.

    The whole signature pipeline is narrow (tokenize -> gram hashes ->
    num_hashes array_min permutations, no exchange), so its parallelism is
    the source's split count — spread_small_scan hash-repartitions only
    when the source is under-split (measured minhash_lsh_pairs 1.62 ->
    1.02 s at sf0.1; strict no-op on an amply-split scan)."""
    from european_emissions_data_warehouse_spark.sources.readers import (
        spread_small_scan,
    )

    sh = (
        _rolling_grams(spread_small_scan(docs, id_col), id_col, text_col, k, unit)
        .filter(F.col("n_toks") > 0)
        .drop("n_toks")
    )
    # One flat transform per slot with literal constants (odd multiplier ->
    # bijection mod 2^31; int literals times long grams stay long and below
    # 2^62 under ANSI), built as ONE SQL string the JVM parses: a Column
    # tree costs a py4j round trip per operator and literal.  A single
    # nested-lambda form is ~4x slower per row (nested HOF eval overhead).
    # The & 2^31-1 reduction is load-bearing: without it a*h+b is monotone
    # in h, every slot's argmin is the same gram, and the signature
    # degenerates to one bottom-1 sketch replicated num_hashes times.
    def slot(i: int) -> str:
        a = ((2 * i + 1) * 0x9E3779B9) & _MASK | 1
        b = (i * 0x85EBCA6B) & _MASK
        return f"array_min(transform(hs, h -> (h * {a} + {b}) & {_MASK}))"

    sig = F.expr(f"array({', '.join(slot(i) for i in range(num_hashes))})")
    return sh.select("id", sig.alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    unit: str = "word",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash LSH near-dup pairs: (id_a, id_b, est_jaccard).

    b bands of r = num_hashes/bands rows; same-band-hash docs become
    candidates (P[candidate] ≈ 1-(1-j^r)^b, steep around j≈(1/b)^(1/r)).
    Candidates are verified by the *signature* estimate (fraction of equal
    minhashes) — cheap, already materialized; swap in ngram verification for
    exactness when the corpus affords it.
    """
    # both sides of the bucket self-join reference the signature frame; the
    # checkpoint materializes it once instead of re-running the whole
    # shingle->minhash DAG per side (~33% of query time at sf0.1 — the same
    # double-execution semdedup_pairs fixed in r2)
    sigs = minhash_signatures(
        docs, id_col, text_col, k, unit, num_hashes
    ).localCheckpoint(eager=False)
    banded = _band_from_sigs(sigs, num_hashes, bands)
    a = banded.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    est = _sig_estimate(num_hashes)
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# --- SimHash -----------------------------------------------------------------

_SIMHASH_BITS = 63  # stay inside a signed 64-bit long


def simhash(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fingerprint long): per-token xxhash64, ±1 vote per bit, sign of
    the vote sum sets the bit.

    Shape: explode tokens (native regexp generator), one hash per token,
    then ONE hash-aggregate computing all 63 bit-count sums as columnar
    codegen aggregates.  bit_i is set iff 2*S_i > n (S_i = tokens with bit i
    on) — identical votes to the per-bit array-aggregate form, but every
    pass is whole-stage codegen instead of 63 interpreted HOF reductions,
    and the shuffle is the partial-aggregated (id, 63 counts) rows only.

    Tokens are Unicode word runs (``[\\p{L}\\p{N}]+``), not ASCII
    ``[a-z0-9]+`` — the ASCII class silently emitted ZERO tokens for pure
    CJK/Cyrillic/Greek documents, so whole language slices vanished from
    the fingerprint output and were exempt from near-dup detection
    (code-review r4).  Every input doc gets exactly one output row: docs
    with no tokens at all (pure punctuation) carry fingerprint 0 rather
    than disappearing, matching chunk_dedup's conservation contract."""
    ids = docs.select(F.col(id_col).alias("id"))
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(r"[\p{L}\p{N}]+"), F.lit(0)
            )
        ).alias("tok"),
    )
    h = F.xxhash64("tok")
    with_h = toks.select("id", h.alias("h"))
    sums = with_h.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"s{i}")
            for i in range(_SIMHASH_BITS)
        ],
    )
    fp = reduce(
        lambda acc, i: acc.bitwiseOR(
            F.shiftleft(
                F.when(F.col(f"s{i}") * 2 > F.col("n"), F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
                i,
            )
        ),
        range(_SIMHASH_BITS),
        F.lit(0).cast("long"),
    )
    fps = sums.select("id", fp.alias("fingerprint"))
    return ids.join(fps, "id", "left").select(
        "id", F.coalesce("fingerprint", F.lit(0).cast("long")).alias("fingerprint")
    )


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: (id_a, id_b, hamming) with hamming <=
    max_hamming.  Pigeonhole banding: split the fingerprint into
    max_hamming+1 bands of ceil(63/(max_hamming+1)) bits — a pair within
    the Hamming ball differs in at most max_hamming bits, so at least one
    of the max_hamming+1 disjoint bands is identical and the candidate join
    stays equality-keyed (never all-pairs).  Band width must shrink as the
    ball grows: a fixed 16-bit slicing runs off the 63-bit fingerprint for
    max_hamming >= 4, leaving constant-zero bands that degenerate into an
    all-pairs join."""
    n_bands = max_hamming + 1
    width = -(-_SIMHASH_BITS // n_bands)  # ceil: bands cover all 63 bits
    mask = (1 << width) - 1
    # materialized once: the band self-join would otherwise re-run the
    # token-explode + 63-bit-sum aggregate for each side
    fps = simhash(docs, id_col, text_col).localCheckpoint(eager=False)
    banded = fps.select(
        "id",
        "fingerprint",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("fingerprint", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "fingerprint", "bb.band", "bb.bucket")
    a = banded.select(F.col("id").alias("id_a"), F.col("fingerprint").alias("fp_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), F.col("fingerprint").alias("fp_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 16,
) -> DataFrame:
    """Segment-level exact dedup: RefinedWeb/Dolma-style "line dedup" with
    fixed-width word chunks standing in for lines (this corpus has no
    newlines).  Every doc is split into consecutive ``chunk_words``-word
    chunks; a chunk whose text occurs elsewhere in the corpus survives only
    at its globally-first occurrence (smallest ``(doc_id, chunk_idx)``);
    each doc is then reassembled from its surviving chunks in order.  This
    removes boilerplate shared across documents (headers, footers, license
    blocks) that document-level exact dedup cannot see.

    Output: ``(doc_id, n_chunks, n_kept, dedup_text)``.

    Scale shape: the dedup DECISION path shuffles only ~32-byte
    (id, idx, len, h1, h2) rows — chunk strings are hashed map-side into
    the 128-bit :func:`content_keys` identity and dropped before the
    first-occurrence window; the per-doc verdict then collapses to a kept
    chunk-index array (one small shuffle keyed on the 8-byte doc id).
    Document bodies cross at most ONE exchange: the doc-id join that
    re-derives surviving chunk text from a second column-pruned corpus
    scan (zero exchanges if the lake is bucketed by doc id — the join
    co-locates for free), versus TWO body exchanges in the
    carry-the-text design (hash window, then reassembly groupBy).
    Collision safety: min/max chunk length per hash group must agree or
    the job fails loudly.
    """
    from pyspark.sql import Window

    w = int(chunk_words)
    # Materialize the token array once: inlining the split into the
    # transform lambda would re-split the document per chunk reference
    # (no CSE in interpreted HOF eval — see _rolling_grams above).
    tokenized = docs.select(
        F.col(id_col).cast("long").alias("_id"),
        # non-empty tokens, matching _split_tokens/ws_tokens: phantom ''
        # entries from edge whitespace would enter chunks and the
        # reassembled text (code-review r4).  NULL text coalesces to the
        # empty token array: a NULL _toks otherwise produced no chunk rows
        # and the inner verdict join ERASED the document, breaking the
        # every-doc-one-row conservation contract (code-review r4, final
        # pass).
        F.coalesce(
            _split_tokens(F.col(text_col), "word"),
            F.array().cast("array<string>"),
        ).alias("_toks"),
    )
    chunked = tokenized.select(
        "_id",
        # greatest(ceil, 1): a token-less doc is ONE empty chunk, kept at
        # its global first occurrence — without the floor, sequence(0, -1)
        # DESCENDS ([0, -1]) and fabricated TWO phantom chunks per empty
        # doc, corrupting n_chunks/n_kept (code-review r4, final pass;
        # oracle mirrors GREATEST(..., 1))
        F.posexplode(
            F.expr(
                f"transform(sequence(0, greatest(int(ceil(size(_toks) / {w}.0)), 1) - 1),"
                f" i -> array_join(slice(_toks, i * {w} + 1, {w}), ' '))"
            )
        ).alias("chunk_idx", "chunk"),
    )
    h1, h2 = content_keys(F.col("chunk"))
    # the chunk body is dropped here — only its 128-bit identity (plus a
    # 4-byte length for the collision check) ever reaches an exchange
    keyed = chunked.select(
        "_id",
        "chunk_idx",
        F.length("chunk").alias("_clen"),
        h1.alias("_h1"),
        h2.alias("_h2"),
    )
    win = Window.partitionBy("_h1", "_h2")
    first = F.min(F.struct("_id", "chunk_idx")).over(win)
    lmin = F.min("_clen").over(win)
    lmax = F.max("_clen").over(win)
    marked = keyed.select(
        "_id",
        "chunk_idx",
        # the collision check feeds the kept flag so it cannot be pruned
        F.when(
            lmin == lmax,
            (first == F.struct("_id", "chunk_idx")),
        )
        .otherwise(
            F.raise_error(F.lit("chunk_dedup: 128-bit content-hash collision")).cast("boolean")
        )
        .alias("_kept"),
    )
    verdicts = marked.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("_kept").cast("long")).alias("n_kept"),
        F.sort_array(F.collect_list(F.when(F.col("_kept"), F.col("chunk_idx")))).alias(
            "_keep_idxs"
        ),
    )
    return tokenized.join(verdicts, "_id").select(
        F.col("_id").alias("doc_id"),
        "n_chunks",
        "n_kept",
        F.array_join(
            F.transform(
                F.col("_keep_idxs"),
                lambda i: F.array_join(F.slice(F.col("_toks"), i * w + 1, w), " "),
            ),
            " ",
        ).alias("dedup_text"),
    )


def _band_from_sigs(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, sig) -> (id, sig, band, bucket): the banding step, shared by
    minhash_lsh_pairs and the persisted-store table so the bucket hash can
    never drift between the full and incremental paths (code-review r4 —
    the two copies previously had to stay bit-identical by hand).

    ``bands`` must divide ``num_hashes`` exactly: slicing b bands of
    r = num_hashes//bands rows silently DISCARDED the trailing
    num_hashes %% bands signature slots — candidate recall quietly fell
    below the 1-(1-j^r)^b tuning math, and a store built under one
    remainder convention would not protect against a probe built under
    another (code-review r4, second pass; same guard as lsh_topk)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}: the "
            f"trailing {num_hashes % bands} signature slots would be "
            "silently dropped from every band bucket"
        )
    r = num_hashes // bands
    return sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.hash(F.slice("sig", i * r + 1, r)).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")


def _sig_estimate(num_hashes: int):
    """Signature Jaccard estimate over paired sig_a/sig_b columns: fraction
    of equal minhash slots.  THE single implementation — the full-batch
    pair verifier and the incremental probe both call it, so the
    'signatures estimate identically' contract between them cannot drift
    by hand-sync (code-review r4, same factoring as _band_from_sigs)."""
    return F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq)
    ) / F.lit(num_hashes)


_MINHASH_PARAMS_FILE = "_minhash_params"


def _write_minhash_params(
    spark, store_path: str, k: int, unit: str, num_hashes: int, bands: int
) -> None:
    """Record the store's MinHash convention next to its band rows (an
    underscore-prefixed file, invisible to parquet readers).  A store
    probed under a different k/unit/num_hashes/bands convention computes
    different gram identities or bucket hashes and silently detects NO
    duplicates — the exact failure class _band_from_sigs' divisibility
    guard exists to prevent (code-review r4)."""
    from european_emissions_data_warehouse_spark.operators.snapshots import (
        write_small_text,
    )

    write_small_text(
        spark,
        f"{store_path.rstrip('/')}/{_MINHASH_PARAMS_FILE}",
        f"k={k}\nunit={unit}\nnum_hashes={num_hashes}\nbands={bands}",
    )


def _read_minhash_params(spark, store_path: str) -> dict[str, str] | None:
    """The store's recorded convention, or None for a legacy store.  Looks
    at the store root and one level down (the streaming layout keeps each
    batch's slice in a batch_id= partition, each written by
    minhash_store_init with its own params file)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(store_path.rstrip("/"))
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    cands = [jvm.org.apache.hadoop.fs.Path(f"{store_path.rstrip('/')}/{_MINHASH_PARAMS_FILE}")]
    if fs.exists(root):
        for st in fs.listStatus(root):
            if st.isDirectory():
                cands.append(
                    jvm.org.apache.hadoop.fs.Path(
                        f"{st.getPath().toString()}/{_MINHASH_PARAMS_FILE}"
                    )
                )
    from european_emissions_data_warehouse_spark.operators.snapshots import read_small_text

    for p in cands:
        text = read_small_text(spark, p.toString())
        if text is not None:
            return dict(
                ln.split("=", 1) for ln in text.strip().splitlines() if "=" in ln
            )
    return None


def _minhash_band_table(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    unit: str,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, sig, band, bucket) — the banded LSH table minhash_lsh_pairs
    builds inline, factored out so an incremental dedup can persist it."""
    return _band_from_sigs(
        minhash_signatures(docs, id_col, text_col, k, unit, num_hashes),
        num_hashes,
        bands,
    )


def minhash_store_init(
    docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    unit: str = "word",
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """Materialize the corpus's banded MinHash table to parquet — the
    standing state incremental dedup joins new batches against.  The
    build convention is recorded alongside (see _write_minhash_params) so
    a mismatched probe fails loudly instead of silently missing every
    duplicate."""
    _minhash_band_table(docs, id_col, text_col, k, unit, num_hashes, bands).write.mode(
        "overwrite"
    ).parquet(store_path)
    _write_minhash_params(docs.sparkSession, store_path, k, unit, num_hashes, bands)


def minhash_dedup_incremental(
    new_docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    unit: str = "word",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    update_store: bool = True,
    with_band_table: bool = False,
) -> DataFrame:
    """Dedup a NEW batch against the standing corpus without re-pairing the
    corpus against itself — the production shape for a corpus that grows
    daily: full-batch LSH is O((old+new)·bands) candidate work per run and
    repeats all old-vs-old pairs forever; this touches the store only
    through bucket-equality joins keyed on (band, bucket), so per-batch
    cost is O(new·bands + matching buckets).

    Returns (new_id, dup_of, est_jaccard) — or, with ``with_band_table``,
    the tuple (pairs, new_band_table): the eagerly-materialized band table
    of the WHOLE batch, so callers that persist survivors' band rows
    themselves (the streaming twin) can filter it by survivor id instead
    of re-running the dominant tokenize+grams+32-permutation signature
    stage over raw text a second time (code-review r4, streaming scale
    pass).  Each pair: every new doc whose signature
    estimate clears ``threshold`` against an existing doc (dup_of = the
    stored id) or an earlier-id doc within the same batch (intra-batch
    dedup, first-id-wins like dedup_exact).  With ``update_store``, the
    SURVIVING new docs' band rows append to the store so the next batch
    sees them — duplicates never enter the store, keeping it one row per
    retained doc per band.  Exactly the pair set the full-batch
    ``minhash_lsh_pairs`` would emit for pairs touching the new batch
    (asserted by test), because signatures and banding hash identically.

    The ``update_store`` append is NOT crash-replay idempotent: re-running
    a batch that already appended duplicates its band rows (downstream
    ``.distinct()`` keeps answers right, but the store grows and bucket
    joins fan out).  Orchestrated callers should pass update_store=False
    and own the store write — streaming/ingest.run_neardup_dedup_stream
    does exactly that with per-batch partition OVERWRITE, which is the
    replay-safe layout (code-review r4)."""
    spark = new_docs.sparkSession
    # convention check BEFORE any join: a store built under different
    # k/unit/num_hashes/bands computes different gram identities or bucket
    # hashes, so a mismatched probe silently admits every cross-batch
    # duplicate (and null-padded zip_with corrupts est_jaccard on a
    # num_hashes mismatch).  Recorded params fail loudly; a legacy store
    # without them falls back to a row-level signature-width guard
    # (code-review r4).
    stored = _read_minhash_params(spark, store_path)
    if stored is not None:
        declared = {"k": k, "unit": unit, "num_hashes": num_hashes, "bands": bands}
        mismatched = {
            key: (stored.get(key), val)
            for key, val in declared.items()
            if stored.get(key) is not None and str(val) != stored[key]
        }
        if mismatched:
            raise ValueError(
                f"minhash_dedup_incremental: store {store_path} was built "
                f"with {stored}, probed with mismatched "
                f"{ {key: v[1] for key, v in mismatched.items()} } — the "
                "bucket join would silently detect no duplicates"
            )
    new_b = _minhash_band_table(
        new_docs, id_col, text_col, k, unit, num_hashes, bands
    ).localCheckpoint(eager=True)
    old_b = spark.read.parquet(store_path)
    if stored is None:
        old_b = old_b.withColumn(
            "sig",
            F.when(F.size("sig") == num_hashes, F.col("sig")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("minhash_dedup_incremental: stored signature width "),
                        F.size("sig").cast("string"),
                        F.lit(
                            f" != probe num_hashes={num_hashes} — the store was "
                            "built under a different convention (code-review r4)"
                        ),
                    )
                )
            ),
        )

    est = _sig_estimate(num_hashes)

    n = new_b.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "bucket"
    )
    o = old_b.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bucket"
    )
    # id_a != id_b: a doc is never a duplicate of ITSELF — without this, a
    # crash-replayed batch whose survivors already reached the store would
    # self-match at est_jaccard 1.0 and flag every survivor as a duplicate,
    # permanently dropping the documents from the output corpus (ADVICE r3)
    vs_old = (
        n.join(o, ["band", "bucket"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_b", "id_a", "sig_a", "sig_b")
        .distinct()
    )
    n2 = new_b.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bucket"
    )
    vs_new = (
        n.join(n2, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_b", "id_a", "sig_a", "sig_b")
        .distinct()
    )
    pairs = (
        vs_old.unionByName(vs_new)
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select(
            F.col("id_b").alias("new_id"),
            F.col("id_a").alias("dup_of"),
            "est_jaccard",
        )
        .localCheckpoint(eager=True)
    )
    if update_store:
        dup_ids = pairs.select(F.col("new_id").alias("id")).distinct()
        survivors = new_b.join(dup_ids, "id", "left_anti")
        survivors.write.mode("append").parquet(store_path)
    if with_band_table:
        return pairs, new_b
    return pairs
