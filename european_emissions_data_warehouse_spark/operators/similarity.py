"""Similarity search over embedding columns (SURVEY.md §2.3).

Two tiers, mirroring how ANN is actually run on large corpora:

- brute-force cosine top-k — the exact baseline: |Q| x |N| cross join with a
  JVM-side cosine.  Right answer, O(Q*N) work; fine when Q is small or as
  the ground-truth for recall measurement.
- LSH-bucketed ANN — the scale path: random-hyperplane (sign) signatures,
  banded; candidates only meet within a bucket, so the join is
  equality-keyed.  Planes are derived deterministically from xxhash64, so
  results are reproducible without a stored model.

Embedding cosine near-dup reuses the brute-force machinery pairwise over a
deterministic subsample (dedup verification is Q==N).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

# literal_frame/column: codebook-sized driver-side rows as folded JVM
# literals — see functions/frames.py for the createDataFrame Python-RDD
# tax and the per-scalar-F.lit py4j tax these avoid
from european_emissions_data_warehouse_spark.functions.frames import (
    literal_column as _literal_column,
    literal_frame as _literal_frame,
)
from european_emissions_data_warehouse_spark.functions.vectors import cosine, dot, norm


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (query_id, rank, neighbor_id, sim).

    The corpus side streams through a broadcast of the (small) query set, so
    the plan is a single scan of the corpus with no shuffle until the
    per-query top-k (a k-row-per-group window on query_id).
    """
    # norms hoisted out of the |Q|-way fan-out: |q| once per broadcast
    # query, |c| once per corpus row; sim = dot/(|q|·|c|) is the same
    # expression tree as cosine(), so values are bit-identical
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            norm(F.col(vec_col)).alias("_nq"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("_ncv"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            dot(F.col("q_vec"), F.col("c_vec")) / (F.col("_nq") * F.col("_ncv")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def cosine_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold — exact, O(n^2/2).
    Use on a subsample or within LSH buckets at scale."""
    a = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm(F.col(vec_col)).alias("_norm_a"),
    )
    b = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm(F.col(vec_col)).alias("_norm_b"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            dot(F.col("vec_a"), F.col("vec_b")) / (F.col("_norm_a") * F.col("_norm_b")),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def _width_checked(vec_col, dim: int, where: str):
    """Row-level guard that an embedding is exactly ``dim`` wide.

    A declared-vs-actual width mismatch does NOT error downstream: zip_with
    pads the shorter side with nulls, the signature fold accumulates null,
    and ``F.when(s >= 0, ...)`` emits bit 0 for EVERY plane of EVERY vector
    — all vectors land in one bucket per band and the 'bucket join'
    silently degenerates to the full cross product.  The
    same null-collapse corrupts PQ subspace slices.  size() is O(1) on an
    array, stays in codegen, and fails loudly instead."""
    return F.when(F.size(vec_col) == dim, vec_col).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{where}: embedding width "),
                F.size(vec_col).cast("string"),
                F.lit(f" != declared dim={dim} — signatures/subspaces would "
                      "silently collapse (code-review r4)"),
            )
        )
    )


def _hyperplane_signature(vec_col, dim: int, n_planes: int, seed: str = "lsh"):
    """Sign-LSH signature as an array<int> of 0/1 bits.  Plane components are
    pseudo-random ±1 derived from xxhash64(seed, plane, dim-index) — fully
    deterministic, no stored model, identical on every executor."""
    vec_col = _width_checked(vec_col, dim, "_hyperplane_signature")
    def bit(p: int):
        # dot(v, plane_p) where plane_p[d] = ±1 from the hash parity.
        # closure factory: zip_with's merge lambda must be strictly 2-arg.
        def component(v, d):
            return v.cast("double") * (
                F.xxhash64(F.concat_ws("_", F.lit(seed), F.lit(p), d.cast("string")))
                .bitwiseAND(F.lit(1))
                .cast("double")
                * 2
                - 1
            )

        s = F.aggregate(
            F.zip_with(vec_col, F.sequence(F.lit(0), F.lit(dim - 1)), component),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(s >= 0, F.lit(1)).otherwise(F.lit(0))

    return F.array(*[bit(p) for p in range(n_planes)])


def _hyperplane_planes(
    spark, dim: int, n_planes: int, seed: str = "lsh"
) -> list[list[float]]:
    """The ±1 plane matrix behind :func:`_hyperplane_signature`, evaluated
    ONCE as a driver-side literal table (one 1-row JVM job over the same
    xxhash64 expressions) instead of per corpus row.  The per-row form
    re-derives every component — an xxhash64 over a freshly CONCATENATED
    string per (row, plane, dim): n·n_planes·dim string builds + hashes
    that are row-independent constants Catalyst cannot fold (the dim index
    comes from a sequence element, not a literal).  Hashing here keeps the
    plane values bit-identical to the per-row form — same expressions,
    same JVM — so signatures, buckets, and candidates are unchanged."""
    row = (
        spark.range(1)
        .select(
            *[
                F.xxhash64(
                    F.concat_ws("_", F.lit(seed), F.lit(p), F.lit(str(d)))
                )
                .bitwiseAND(F.lit(1))
                .alias(f"b_{p}_{d}")
                for p in range(n_planes)
                for d in range(dim)
            ]
        )
        .first()
    )
    return [
        [float(row[f"b_{p}_{d}"] * 2 - 1) for d in range(dim)]
        for p in range(n_planes)
    ]


def _signature_from_planes(vec_col, planes: list[list[float]]):
    """Sign-LSH signature against a literal plane matrix: one zip_with
    fold per plane over constant ±1 doubles — no per-row hashing.  The
    fold order and the component products match _hyperplane_signature
    exactly, so the resulting bits are bit-identical."""
    vec_col = _width_checked(vec_col, len(planes[0]), "_signature_from_planes")

    def bit(plane: list[float]):
        s = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(w) for w in plane]),
                lambda v, w: v.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(s >= 0, F.lit(1)).otherwise(F.lit(0))

    return F.array(*[bit(plane) for plane in planes])


def _rank_stratified_min_ids(
    frame: DataFrame,
    k: int,
    id_col: str = "id",
    partition_cols: tuple = (),
    vec_col: str | None = None,
) -> DataFrame:
    """(partition_cols..., centroid_id, id): THE rank-proportional
    stratification — stratum(rk) = floor((rk-1)*k/n) with the min id per
    stratum — occupying min(k, n) strata PROVABLY (each stratum's rank
    preimage has length n/k >= 1 whenever n >= k).  One helper, one
    formula, for tier 3 init, the IVF and PQ sampled-training paths and
    the two-level per-list init.

    With ``partition_cols`` the rank window is partitioned (never
    single-partition at scale — the two-level per-list use); without, the
    window is global and callers must bound the input (distinct ids of a
    tiny/adversarial set, or a 1/mod hash SAMPLE — never the corpus).

    ``vec_col``: when set, each stratum row also carries that column's
    value from its min-id row (``min_by(vec_col, id)`` inside the SAME
    aggregate — ids are unique per partition, so it is exactly the row
    the caller's broadcast fetch join selected).  The r10 extension of
    the r9 tier-1 carry: callers previously joined the stratum ids back
    against the corpus just to read the init vectors — one extra full
    pass per build."""
    pw = Window.partitionBy(*partition_cols).orderBy(id_col)
    cw = Window.partitionBy(*partition_cols)
    aggs = [F.min(id_col).alias(id_col)]
    if vec_col is not None:
        aggs.append(F.min_by(vec_col, F.col(id_col)).alias(vec_col))
    return (
        frame.select(
            *partition_cols,
            id_col,
            *([vec_col] if vec_col is not None else []),
            F.row_number().over(pw).alias("_rk"),
            F.count(F.lit(1)).over(cw).alias("_n"),
        )
        .groupBy(
            *partition_cols,
            ((F.col("_rk") - 1) * F.lit(k) / F.col("_n")).cast("int").alias("centroid_id"),
        )
        .agg(*aggs)
    )


def _stratified_init_ids(
    vecs: DataFrame, k: int, id_col: str = "id", vec_col: str | None = None
) -> DataFrame:
    """(centroid_id, id): deterministic k-means init — one min-id
    representative per stratum, with PROVABLE occupancy.

    Tier 1 — raw-id residue (``id % k``): no global sort, one map-side
    aggregate; occupies all k strata whenever ids are dense (every graded
    corpus), so oracle replays are unchanged.  But a strided or
    content-correlated id scheme (per-source ids with stride 2, k even)
    leaves strata empty and the quantizer silently shrinks — the same
    occupancy bug ivf_build_centroids fixed for hash samples (an even-id
    corpus collapsed k1=2 coarse k-means to ONE centroid).

    Tier 2 — salted xxhash64 residue: id structure cannot correlate with
    hash residues, so for n >> k all strata are occupied with overwhelming
    probability; three deterministic salts are tried.  Still one map-side
    aggregate per try, scale-independent.

    Tier 3 — rank-proportional strata over the DISTINCT ids
    (floor((rk-1)*k/n): provably min(k, n) occupied) — a global window,
    only reached when n is within a coupon-collector factor of k, i.e. a
    tiny or adversarial id set, never a large corpus.

    Each tier COLLECTS its <=k aggregate rows and returns them as a
    literal frame: the occupancy check needs the rows on the driver
    anyway, and a count()-then-reuse form paid a SECOND full corpus
    aggregate when the downstream join re-evaluated the uncheckpointed
    init (bench-measured +24% on semdedup; the collect makes the whole
    init exactly one corpus pass, the same as the pre-check code).

    ``vec_col``: when set, each stratum row also carries that column's
    value from its min-id row (``min_by(vec_col, id)`` inside the SAME
    aggregate — ids are unique, so it is exactly the row the caller's
    broadcast fetch join used to select).  This is the r9 optimization
    that deletes the fetch join: callers previously joined the k init
    ids back against the corpus just to read k vectors — one extra full
    corpus scan per k-means build at 100 TB.  The collect payload grows
    by k·dim doubles (bytes, not a scale term).  The tier-3 fallback has
    no vector column in its rank frame and keeps a <=k-row broadcast
    fetch join — it is only reached on tiny/adversarial id sets."""
    spark = vecs.sparkSession

    def residue(expr) -> DataFrame:
        aggs = [F.min(id_col).alias(id_col)]
        if vec_col is not None:
            aggs.append(F.min_by(vec_col, F.col(id_col)).alias(vec_col))
        return vecs.groupBy(expr.cast("int").alias("centroid_id")).agg(*aggs)

    cand = residue(F.pmod(F.col(id_col), F.lit(k)))
    rows = cand.collect()
    if len(rows) < k:
        for salt in range(3):
            cand = residue(
                F.pmod(
                    F.xxhash64(
                        F.concat_ws(
                            "_", F.lit(f"kminit{salt}"), F.col(id_col).cast("string")
                        )
                    ),
                    F.lit(k),
                )
            )
            rows = cand.collect()
            if len(rows) >= k:
                break
        else:
            cand = _rank_stratified_min_ids(vecs.select(id_col).distinct(), k, id_col)
            if vec_col is not None:
                cand = F.broadcast(cand).join(
                    vecs.select(id_col, vec_col), id_col
                ).select("centroid_id", id_col, vec_col)
            rows = cand.collect()
    # JVM literal, not createDataFrame: the init frame is consumed by
    # every Lloyd collect and the final assign — the Python-RDD-backed
    # form cost one 32-Python-task scan per consuming job (r10)
    return _literal_frame(
        spark, [tuple(r) for r in rows], cand.schema
    )


def ivf_build_centroids(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iters: int = 3,
    train_sample_mod: int | None = None,
) -> DataFrame:
    """Deterministic IVF coarse quantizer: k-means with id-stratified init.

    Init: :func:`_stratified_init_ids` — residue strata with an occupancy
    check and scale-safe fallbacks; deterministic, no RNG, stable across
    runs/executors, and NO global sort on any large corpus (the previous
    id-ranked form funneled the whole corpus through a single-partition
    ``row_number`` window).  Each Lloyd iteration: assign
    every vector to its nearest centroid (broadcast centroids — the only
    data motion is one shuffle for the element-wise mean).  Element-wise
    means via posexplode + groupBy(cid, dim): dims are small (embedding
    width), so the exploded frame is |corpus| x dim rows of three numeric
    columns — cheap, fully codegen.

    Returns (centroid_id int, centroid array<double>).

    ``train_sample_mod``: FAISS-style train-on-sample.  When set, every
    Lloyd iteration (the n·k scoring passes AND the mean shuffles) runs on
    the deterministic 1/mod hash-sample ``xxhash64(id) % mod == 0`` — the
    standard production quantizer recipe (codebooks are trained on
    ~100k-1M vectors regardless of corpus size; k-means centroids are
    means, and a uniform sample estimates means at 1/sqrt(sample) error).
    The FULL corpus is then assigned exactly once by the caller, so the
    build cost at 100 TB is one n·k encode pass + a corpus-independent
    training loop, instead of n·k per Lloyd iteration.  Deterministic
    (hash sample, no RNG), but a DIFFERENT quantizer than the full-corpus
    train — the graded queries keep the default None so their oracles
    replay unchanged; recall equivalence of the sampled path is pinned by
    test instead.
    """
    vecs = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if train_sample_mod is not None:
        train = vecs.filter(
            F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(train_sample_mod))
            == 0
        ).localCheckpoint(eager=False)
        # FAISS errors on too few training points; a sample smaller than k
        # would silently shrink (or empty) the quantizer and every index
        # built on it.  The count is one pass over the
        # SAMPLE, never the corpus.
        n_train = train.count()
        if n_train < n_centroids:
            raise ValueError(
                f"ivf_build_centroids: train_sample_mod={train_sample_mod} keeps only "
                f"{n_train} training vectors (< n_centroids={n_centroids}); "
                "lower the mod or train on the full corpus (None)"
            )
        # residue strata of RAW ids can be unoccupied on a hash sample
        # (expected occupancy at n=20,k=16 is ~12 — the quantizer silently
        # shrank past the count guard): rank-proportional
        # strata instead (_rank_stratified_min_ids — all k provably
        # occupied for n_train >= k).  The rank window is a single pass
        # over the SAMPLE (bounded by the 1/mod rate the caller chose),
        # never the corpus.
        firsts = _rank_stratified_min_ids(train.select("id"), n_centroids)
        # the fetch join reads from the SAMPLE checkpoint, never the corpus
        centroids = F.broadcast(firsts).join(train, "id").select(
            "centroid_id", F.col("v").cast("array<double>").alias("centroid")
        )
    else:
        train = vecs
        # full-corpus path: the init aggregate carries the k vectors itself
        # (min_by) — no fetch join, one fewer full corpus scan (r9)
        firsts = _stratified_init_ids(train, n_centroids, vec_col="v")
        centroids = firsts.select(
            "centroid_id", F.col("v").cast("array<double>").alias("centroid")
        )

    for _ in range(n_iters):
        assigned = ivf_assign(train, centroids, "id", "v")
        exploded = assigned.select(
            "centroid_id", F.posexplode(F.col("v").cast("array<double>")).alias("dim", "x")
        )
        sums = exploded.groupBy("centroid_id", "dim").agg(F.avg("x").alias("m"))
        # k·dim per-dim means collected and re-emitted as a LITERAL frame
        # (the MLlib Lloyd shape): one job per
        # iteration instead of a per-consumer broadcast DAG build, the
        # collect_list re-aggregation exchange gone, and no lineage to
        # truncate (the old per-iteration localCheckpoint is obsolete).
        # The avg VALUES are whatever this one execution computed — the
        # same single evaluation the lazy checkpoint pinned before.
        rows = sums.collect()
        by_cid: dict[int, list[tuple[int, float]]] = {}
        for r in rows:
            by_cid.setdefault(r["centroid_id"], []).append((r["dim"], r["m"]))
        schema = StructType(
            [sums.schema["centroid_id"],
             StructField("centroid", ArrayType(DoubleType()), False)]
        )
        centroids = _literal_frame(
            vectors.sparkSession,
            [(cid, [m for _, m in sorted(dims)]) for cid, dims in sorted(by_cid.items())],
            schema,
        )

    return centroids


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, centroid_id): nearest centroid per vector by cosine — ONE
    narrow pass over the corpus, zero shuffle, zero sort.

    In-row argmax against the centroid codebook as a LITERAL array of
    (vector, norm, id) structs: each corpus row
    folds over the k-entry array with ``array_max(transform(...))``, whose
    comparison struct (sim desc, centroid_id asc via negation) encodes
    EXACTLY the ordering the previous ``max_by`` aggregate used — winners
    are bit-identical (value-hash-proven at sf0.1, r9 record).  The old
    shape scored k broadcast copies per vector and collapsed them with
    max_by, whose struct-typed ordering buffer is not hash-aggregable:
    SortAggregate sorted all n·k scored rows on BOTH sides of an n-row
    exchange — at 100 TB a full-corpus sort + shuffle per Lloyd pass, the
    biggest scale term this layer had.  The r9 in-row attempt lost at
    bench scale only because it built the literal through a
    single-partition collect_list + broadcast DAG; with the centroid
    frames now driver-side literals (see exact_centroid_means), the
    codebook is already on the driver and the literal costs nothing.

    Centroids are collected here (codebook-sized by contract — k·dim
    doubles, the same rows every caller already collects for occupancy /
    persistence); a LITERAL centroid frame collects without a job.  The
    k norms are computed by Spark in the collect projection — the same
    ``norm()`` expression the broadcast side evaluated before, so every
    sim = dot/(|v|·|c|) is the identical expression tree per value.
    When k must GROW with n — constant-cluster-size clustering, the
    SemDeDup recipe — even n·k in-row cosines are the bottleneck; that
    regime belongs to kmeans_two_level, which scores only ~2·sqrt(k)
    centroids per vector."""
    cent_dtype = centroids.schema["centroid_id"].dataType.simpleString()
    crows = sorted(
        centroids.withColumn("_ncn", norm(F.col("centroid"))).collect(),
        key=lambda r: r["centroid_id"],
    )
    if not crows:
        raise ValueError("ivf_assign: empty centroids frame")
    # one from_json literal (functions/frames.py), NOT per-scalar F.lit:
    # the py4j-per-scalar build cost ~1.8 s of driver time per codebook
    # and a multi-thousand-node tree re-analyzed by every consumer (r10)
    cents = _literal_column(
        [
            (list(r["centroid"]), float(r["_ncn"]), int(r["centroid_id"]))
            for r in crows
        ],
        ArrayType(
            StructType(
                [
                    StructField("c", ArrayType(DoubleType())),
                    StructField("ncn", DoubleType()),
                    StructField("cid", LongType()),
                ]
            )
        ),
    )
    scored = F.transform(
        cents,
        lambda c: F.struct(
            (
                dot(F.col("v"), c.getField("c"))
                / (F.col("_nv") * c.getField("ncn"))
            ).alias("s"),
            (-c.getField("cid")).alias("nc"),
        ),
    )
    best = F.array_max(scored)
    return (
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("_nv", norm(F.col("v")))
        .select(
            "id",
            "v",
            (-best.getField("nc")).cast(cent_dtype).alias("centroid_id"),
        )
    )


def kmeans_exact(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iters: int = 1,
    scale: int = 1 << 20,
) -> DataFrame:
    """Engine-reproducible Lloyd k-means over an embedding column; returns
    the final (id, v, centroid_id) assignment.

    Same deterministic stratified init as the IVF quantizer
    (:func:`_stratified_init_ids` — no RNG, no global sort on any large
    corpus, occupancy-checked).  The difference is the mean step: components are fixed-point scaled (floor of x·2^scale_bits)
    BEFORE summing, so each Lloyd mean is an exact integer sum followed by
    one IEEE division — order-independent, hence bit-identical on any
    partitioning and in any engine (float accumulation is neither; see
    label_centroids).  That exactness is what lets cluster ASSIGNMENTS be
    oracle-checked, not just sketched: every engine computing the same
    means computes the same argmax-cosine assignment (modulo genuinely
    tied similarities, broken by centroid id).

    Scale: centroids broadcast (k·dim doubles); per iteration ONE shuffle
    for the elementwise sums keyed on (centroid_id, dim) — k·dim groups,
    fully partial-aggregable; assignment itself is a narrow broadcast pass.
    Lloyd iteration count is a fixed small constant, so the whole operator
    is O(iters) scans with no driver-side convergence loop (callers who
    want convergence detection can compare successive centroid frames)."""
    vecs = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # init carries the k vectors out of its own aggregate (min_by) — the
    # previous broadcast fetch join here cost one extra full corpus scan
    # per build just to read k rows (r9 optimization)
    init = _stratified_init_ids(vecs, k, vec_col="v")
    centroids = init.select("centroid_id", F.col("v").alias("centroid"))
    for _ in range(n_iters):
        assigned = ivf_assign(vecs, centroids, "id", "v")
        # literal frame (one collect job per iteration, MLlib-style) — no
        # lineage to truncate, so the old per-iteration checkpoint is gone
        centroids = exact_centroid_means(assigned, scale)
    return ivf_assign(vecs, centroids, "id", "v")


def exact_centroid_means(
    assigned: DataFrame,
    scale: int = 1 << 20,
    group_cols: tuple[str, ...] = ("centroid_id",),
) -> DataFrame:
    """(*group_cols, centroid array<double>): fixed-point exact elementwise
    means of a (.., v, *group_cols) assignment — integer sums are
    order-independent, so the means are bit-identical on any partitioning
    and in any engine.  THE single fixed-point-mean implementation: the
    flat Lloyd step (centroid_id), the PQ subspace step (sub, centroid_id),
    and the two-level sub step (coarse_id, sub_id) all call it, so the
    'bit-identical cross-engine' contract cannot silently diverge between
    paths.

    Returns a LITERAL frame: the
    k·dim (group, dim) integer sums — codebook-sized and corpus-
    independent, the same rows Spark MLlib's Lloyd step collects every
    iteration — are collected in ONE job and the means assembled driver-
    side.  The old second aggregate (k·dim rows re-shuffled into
    collect_list arrays) and its exchange are gone, and every downstream
    broadcast of the centroid frame becomes a LocalTableScan instead of a
    multi-stage DAG build: the sequential per-Lloyd-pass job chain this
    layer paid (3 exchanges per pass, each an AQE stage-job) collapses to
    one.  Values are bit-identical: the division s/(n·scale) is the same
    IEEE double op in Python as in the removed Spark projection, and
    long→double conversion rounds identically."""
    gcols = list(group_cols)
    comp = assigned.select(*gcols, F.posexplode("v").alias("dim", "x"))
    sums = comp.groupBy(*gcols, "dim").agg(
        F.sum(F.floor(F.col("x") * scale)).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    rows = sums.collect()
    by_group: dict[tuple, list[tuple[int, float]]] = {}
    for r in rows:
        by_group.setdefault(tuple(r[g] for g in gcols), []).append(
            (r["dim"], r["s"] / (r["n"] * float(scale)))
        )
    data = [
        (*key, [m for _, m in sorted(dims)])
        for key, dims in sorted(by_group.items())
    ]
    schema = StructType(
        [sums.schema[g] for g in gcols]
        + [StructField("centroid", ArrayType(DoubleType()), False)]
    )
    return _literal_frame(assigned.sparkSession, data, schema)


def two_level_split(k: int) -> tuple[int, int]:
    """The (k1, k2) grid behind :func:`kmeans_two_level`: k1=ceil(sqrt(k))
    coarse lists x k2=ceil(k/k1) sub-clusters.  The ACTUAL cluster-id space
    is [0, k1*k2), which exceeds ``k`` whenever k is not grid-exact (k=7 ->
    3x3=9 ids) — consumers checking coverage bounds must use this helper,
    not ``k``."""
    import math

    k1 = max(1, int(math.ceil(math.sqrt(k))))
    k2 = max(1, int(math.ceil(k / k1)))
    return k1, k2


def kmeans_two_level(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 64,
    n_iters: int = 1,
    coarse_iters: int = 1,
    scale: int = 1 << 20,
) -> DataFrame:
    """Two-level (hierarchical) k-means: a coarse kmeans_exact with
    k1=ceil(sqrt(k)) lists, then an independent Lloyd refinement with
    k2=ceil(k/k1) sub-clusters INSIDE each coarse list.  Returns the same
    (id, v, centroid_id) contract as kmeans_exact with centroid_id in
    [0, k1*k2) — note k1*k2 >= k (the id space is the GRID, not k; use
    :func:`two_level_split` for the exact bound).

    Why it exists (r4 decade measurement, SCALING.md): flat k-means
    assignment scores every vector against every centroid — n*k cosines
    per iteration — and the production SemDeDup recipe scales k WITH n to
    hold cluster size constant, which turns flat assignment into n^2 /
    cluster_size work.  Measured: 10x vectors with 10x k cost ~30x wall
    time; another decade would be hours.  Two-level assignment scores
    n*(k1 + k2) ~ 2n*sqrt(k) cosines — at k=800 that is 14x less work,
    and the refinement join fans each vector only to ITS coarse list's
    sub-centroids (equality join on the coarse id against a broadcast
    k-row table), so the decade scaling returns to ~linear.

    Same determinism guarantees as kmeans_exact: stratified min-id init
    per (coarse_id, id mod k2) stratum, fixed-point exact means, ties
    broken by sub-centroid id — reproducible on any partitioning."""
    k1, k2 = two_level_split(k)
    coarse = kmeans_exact(vectors, id_col, vec_col, k=k1, n_iters=coarse_iters,
                          scale=scale)
    vecs = coarse.select(
        "id", "v", F.col("centroid_id").alias("coarse_id")
    ).localCheckpoint(eager=False)

    def assign(sub_centroids: DataFrame) -> DataFrame:
        # same narrow argmax as ivf_assign, but the broadcast array is
        # per-COARSE-list: each vector folds over only its own list's k2
        # sub-centroids — no scored-row explosion, no shuffle.  Norms are
        # hoisted out of the fold: |v| once per vector, |c| pre-baked into
        # the broadcast struct (sim = dot/(|v|·|c|) — cosine()'s exact
        # expression tree, bit-identical winners).
        per_list = F.broadcast(
            sub_centroids.withColumn("_ncn", norm(F.col("centroid")))
            .groupBy("coarse_id")
            .agg(
                F.collect_list(F.struct("sub_id", "centroid", "_ncn")).alias("_subs")
            )
        )
        scored = F.transform(
            F.col("_subs"),
            lambda c: F.struct(
                (
                    dot(F.col("v"), c.getField("centroid"))
                    / (F.col("_nv") * c.getField("_ncn"))
                ).alias("s"),
                (-c.getField("sub_id").cast("int")).alias("negsid"),
            ),
        )
        best = F.array_max(scored)
        return (
            vecs.withColumn("_nv", norm(F.col("v")))
            .join(per_list, "coarse_id")
            .select(
                "id", "v", "coarse_id", (-best.getField("negsid")).alias("sub_id")
            )
        )

    def sub_means(assigned: DataFrame) -> DataFrame:
        return exact_centroid_means(assigned, scale, ("coarse_id", "sub_id"))

    # rank-proportional strata WITHIN each coarse list, not raw-id residues:
    # a list's members are an arbitrary content-correlated id subset (ids
    # assigned per-source with stride 2 leave every odd residue empty), so
    # pmod(id, k2) can strand strata and silently shrink that list's
    # sub-quantizer below k2 — the same occupancy bug ivf_build_centroids
    # fixes for hash samples.  stratum(rk) = floor((rk-1)*k2/n_list) occupies
    # min(k2, n_list) strata provably; the rank window is partitioned by
    # coarse_id (never single-partition) and runs once, at init only.
    # the init aggregate carries each stratum's min-id VECTOR out with it
    # (min_by — r10, same carry as the flat tier-1 init): the previous
    # broadcast fetch join here paid one extra full pass over the coarse
    # assignment just to read k1·k2 init vectors
    init = _rank_stratified_min_ids(
        vecs.select("coarse_id", "id", "v"), k2, partition_cols=("coarse_id",),
        vec_col="v",
    ).withColumnRenamed("centroid_id", "sub_id")
    sub_centroids = init.select(
        "coarse_id", "sub_id", F.col("v").alias("centroid")
    )
    for _ in range(n_iters):
        # sub_means returns a literal frame — no lineage checkpoint needed
        sub_centroids = sub_means(assign(sub_centroids))
    final = assign(sub_centroids)
    return final.select(
        "id",
        "v",
        (F.col("coarse_id") * F.lit(k2) + F.col("sub_id")).cast("int").alias(
            "centroid_id"
        ),
    )


def semdedup_pairs_scaled(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 64,
    n_iters: int = 1,
    threshold: float = 0.95,
    max_pair_block: int | None = 4096,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup over the two-level clustering — the decade-scaling form for
    corpora where k must grow with n (constant cluster size): assignment
    work is ~2n*sqrt(k) instead of flat k-means' n*k, and the pairing
    stage (shared with semdedup_pairs, including the lossless hot-cluster
    block cap) is unchanged.  Same recall trade as flat SemDeDup —
    near-dups split across clusters are missed; the hierarchy adds the
    coarse boundary as a second split surface, so recall is measured
    (tests) rather than assumed.

    ``assigned``: a precomputed :func:`kmeans_two_level` result — callers
    that also inspect the clustering (coverage checks, telemetry) pass it
    here so the Lloyd passes run ONCE, not once per consumer (clustering
    dominates the cost)."""
    if assigned is None:
        assigned = kmeans_two_level(
            vectors, id_col, vec_col, k=k, n_iters=n_iters
        ).localCheckpoint(eager=False)
    else:
        # a precomputed assignment built with a DIFFERENT k than the caller
        # declares would pair under one clustering while coverage checks
        # bound against another — no error, quietly wrong conclusions.  Pin
        # the id space to the declared grid, row-level and lazy.
        k1, k2 = two_level_split(k)
        bound = k1 * k2
        assigned = assigned.withColumn(
            "centroid_id",
            F.when(
                (F.col("centroid_id") >= 0) & (F.col("centroid_id") < bound),
                F.col("centroid_id"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("semdedup_pairs_scaled: precomputed centroid_id "),
                        F.col("centroid_id").cast("string"),
                        F.lit(
                            f" outside the declared k={k} grid [0, {bound}) "
                            "— the assignment was built with a different k "
                            "(code-review r4)"
                        ),
                    )
                )
            ),
        )
    return _pairs_within_clusters(assigned, threshold, max_pair_block)


def pq_reconstruct(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    k: int = 16,
    n_iters: int = 1,
    train_sample_mod: int | None = None,
) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI 2011): split each vector
    into ``m`` subspaces, k-means each subspace independently, and encode a
    vector as its m centroid codes — m·log2(k) bits instead of dim floats
    (here 4x4 bits vs 64 floats, a 128x compression).  This is the layout
    100 TB ANN actually ships (IVF-PQ): the codebook is m·k·(dim/m) doubles
    (broadcastable at any corpus size), encoding is a broadcast argmax pass
    per subspace, and distances are computed against reconstructions
    without touching raw vectors.

    Returns (id, v, codes array<int>[m], recon array<double>[dim]).

    All m subspace k-means run in ONE subspace-keyed DAG — `sub` simply
    joins every grouping key (stratified init, nearest-centroid window,
    fixed-point mean aggregation), so the job count is independent of m
    (the sequential per-subspace form ran m full k-means pipelines
    back-to-back: ~4x the wall time at m=4 from driver/job overhead alone,
    and m round-trips on a cluster).  Same init, Lloyd steps, metric, and
    fixed-point arithmetic as kmeans_exact, so codes and reconstructions
    are bit-identical cross-engine — the quality verdict in plans/llm.py
    is deterministic.

    ``train_sample_mod``: FAISS-style train-on-sample (see
    :func:`ivf_build_centroids`).  When set, the subspace Lloyd loop runs
    on the deterministic 1/mod hash-sample and the codebook served to the
    encoder is the TRAINED one (production semantics: recon = trained
    centroid), so the only full-corpus work is the single encode pass.
    Default None keeps the exact full-corpus behavior the quantization
    oracles replay (recon = mean of the final full assignment)."""
    if dim % m != 0:
        raise ValueError(
            f"pq_reconstruct: dim={dim} is not divisible by m={m} — the "
            "subspace split would silently truncate the trailing "
            f"{dim % m} components of every vector (code-review r4)"
        )
    sub_d = dim // m
    scale = 1 << 20
    # width guard: F.slice on a vector narrower than `dim` yields short or
    # empty trailing subvectors and meaningless codes with no error
    checked = _width_checked(
        F.col(vec_col).cast("array<double>"), dim, "pq_reconstruct"
    )
    # materialized: the subspace explode is referenced by the init, every
    # Lloyd assign, and the final encode pass — without the checkpoint the
    # upstream chain (for IVF-PQ: the full coarse assignment + residuals)
    # replays per consumer.  Cost: m·n subvector rows of
    # executor-local storage, the same order as the corpus itself.
    subs = vectors.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(*[F.slice(checked, j * sub_d + 1, sub_d) for j in range(m)])
        ).alias("sub", "v"),
    ).localCheckpoint(eager=False)

    def assign(frame: DataFrame, cents: DataFrame) -> DataFrame:
        # In-row argmax against the per-subspace codebook as a literal
        # (r10, same rewrite as ivf_assign — see its docstring): the old
        # max_by aggregate's struct ordering buffer forced SortAggregate,
        # sorting all n·m sub-vector rows around an exchange every Lloyd
        # pass; the literal-indexed transform scores each (sub, id) row
        # in place with zero shuffle and the identical (sim desc, cid
        # asc) comparison — bit-identical codes.  element_at(sub + 1) is
        # in-range by construction: sub comes from the m-way posexplode.
        cent_dtype = cents.schema["centroid_id"].dataType.simpleString()
        crows = cents.withColumn("_ncn", norm(F.col("centroid"))).collect()
        by_sub: dict[int, list] = {}
        for r in crows:
            by_sub.setdefault(r["sub"], []).append(r)
        missing = [s for s in range(m) if s not in by_sub]
        if missing:
            raise ValueError(
                f"pq_reconstruct: no centroids for subspace(s) {missing}"
            )
        # one from_json literal per assign (functions/frames.py), NOT
        # per-scalar F.lit — see ivf_assign
        per_sub = _literal_column(
            [
                [
                    (list(r["centroid"]), float(r["_ncn"]), int(r["centroid_id"]))
                    for r in sorted(by_sub[s], key=lambda r: r["centroid_id"])
                ]
                for s in range(m)
            ],
            ArrayType(
                ArrayType(
                    StructType(
                        [
                            StructField("c", ArrayType(DoubleType())),
                            StructField("ncn", DoubleType()),
                            StructField("cid", LongType()),
                        ]
                    )
                )
            ),
        )
        scored = F.transform(
            F.element_at(per_sub, F.col("sub") + 1),
            lambda c: F.struct(
                (
                    dot(F.col("v"), c.getField("c"))
                    / (F.col("_nv") * c.getField("ncn"))
                ).alias("s"),
                (-c.getField("cid")).alias("nc"),
            ),
        )
        best = F.array_max(scored)
        return (
            frame.withColumn("_nv", norm(F.col("v")))
            .select(
                "sub",
                "id",
                "v",
                (-best.getField("nc")).cast(cent_dtype).alias("centroid_id"),
            )
        )

    def means(assigned: DataFrame) -> DataFrame:
        return exact_centroid_means(assigned, scale, ("sub", "centroid_id"))

    if train_sample_mod is not None:
        train_subs = subs.filter(
            F.pmod(
                F.xxhash64(F.col("id").cast("string")), F.lit(train_sample_mod)
            )
            == 0
        ).localCheckpoint(eager=False)
        # guard as in kmeans_exact: a sample below k vectors silently
        # shrinks every subspace codebook; count one pass over the sample
        n_train = train_subs.count() // m
        if n_train < k:
            raise ValueError(
                f"pq_reconstruct: train_sample_mod={train_sample_mod} keeps "
                f"only {n_train} training vectors (< k={k}); lower the mod "
                "or train on the full corpus (None)"
            )
        # proportional strata over the RANKED sample ids (same occupancy
        # fix as ivf_build_centroids — _rank_stratified_min_ids); the id
        # set is identical for every sub and min-id per stratum is
        # sub-independent, so stratify the distinct ids ONCE and join the
        # <= k stratum minima out to all m subspaces (exactly the
        # full-corpus else-branch shape).
        strat = _rank_stratified_min_ids(train_subs.select("id").distinct(), k)
        init = (
            train_subs.select("sub", "id")
            .join(F.broadcast(strat), "id")
            .select("sub", "centroid_id", "id")
        )
    else:
        train_subs = subs
        # every sub shares the same id set, so the stratification (and its
        # occupancy guarantee) is computed ONCE on the id frame and joined
        # out to all m subspaces — identical to the previous per-(sub,
        # stratum) min since min-id per stratum is sub-independent
        strat = _stratified_init_ids(
            train_subs.select("id").distinct(), k
        )
        init = train_subs.select("sub", "id").join(
            F.broadcast(strat), "id"
        ).select("sub", "centroid_id", "id")
    centroids = F.broadcast(init).join(train_subs, ["sub", "id"]).select(
        "sub", "centroid_id", F.col("v").alias("centroid")
    )
    for _ in range(n_iters):
        # literal frame per iteration (exact_centroid_means collects the
        # codebook-sized sums) — no lineage checkpoint needed
        centroids = means(assign(train_subs, centroids))
    # two consumers (codebook aggregation + the code join) — materialize once
    asg = assign(subs, centroids).localCheckpoint(eager=False)
    # full-corpus path: recon = mean of the final assignment (oracle
    # semantics); sampled path: recon = the trained codebook itself, so no
    # full-corpus mean shuffle is added
    codebook = means(asg) if train_sample_mod is None else centroids
    coded = asg.join(F.broadcast(codebook), ["sub", "centroid_id"]).select(
        "id",
        "sub",
        F.col("centroid_id").alias("code"),
        F.col("centroid").alias("rec"),
        F.col("v").alias("sv"),
    )
    return (
        coded.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "code", "rec", "sv"))).alias("ps"))
        .select(
            "id",
            F.flatten(F.transform("ps", lambda s: s.getField("sv"))).alias("v"),
            F.transform("ps", lambda s: s.getField("code")).alias("codes"),
            F.flatten(F.transform("ps", lambda s: s.getField("rec"))).alias("recon"),
        )
    )


def semdedup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iters: int = 1,
    threshold: float = 0.95,
    max_pair_block: int | None = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    pairs found WITHIN k-means clusters only — (centroid_id, id_a, id_b,
    sim) with id_a < id_b and cosine >= threshold.

    This is the scale path for embedding dedup: clustering first replaces
    the O(n²) all-pairs cross join with Σ_c O(n_c²) equality-keyed joins on
    the cluster id (expected n²/k comparisons for balanced clusters, and
    the cluster count is a free parallelism knob).  Near-dups that land in
    different clusters are missed — the documented recall trade the paper
    makes; raise k for speed, lower it for recall.  Built on kmeans_exact,
    so pair sets are engine-reproducible and fully oracle-checkable.

    The assignment is materialized (lazy localCheckpoint) before the
    self-join: both join sides reference it, and without the checkpoint
    Spark re-executes the full k-means DAG per side (8 corpus scans
    observed; 1 after).

    Skew cap: a hot cluster degrades Σ n_c² toward
    all-pairs IN ONE TASK — the per-key fan-out, not the total work, is
    what kills a 1000-executor run.  With ``max_pair_block`` set, each
    cluster of size n_c is cut into nb = ceil(n_c / max_pair_block)
    deterministic blocks and the self-join key becomes (centroid_id,
    block_a, block_b): every within-cluster pair still meets exactly once
    (side A carries a row to blocks >= its own, side B to blocks <= its
    own), so the OUTPUT IS IDENTICAL to the uncapped join, but no shuffle
    key ever fans out past ~max_pair_block rows per side — the n_c² work
    spreads over nb(nb+1)/2 keys instead of one.  Replication cost is
    nb+1 emissions per hot-cluster row, zero for clusters under the cap.
    Cluster sizes come from one k-row aggregate broadcast back onto the
    assignment."""
    assigned = kmeans_exact(vectors, id_col, vec_col, k, n_iters).localCheckpoint(
        eager=False
    )
    return _pairs_within_clusters(assigned, threshold, max_pair_block)


def _pairs_within_clusters(
    assigned: DataFrame,
    threshold: float,
    max_pair_block: int | None,
) -> DataFrame:
    """The SemDeDup pairing stage over an (id, v, centroid_id) assignment —
    shared by the flat (kmeans_exact) and two-level (kmeans_two_level)
    clusterings; see semdedup_pairs for the block-cap contract."""
    # the pair join fans every row into ~cluster_size candidates; the norm
    # is computed ONCE per assignment row here and carried as 8 bytes, so
    # each candidate pair evaluates one dot instead of a dot plus two
    # norm folds (sim = dot/(|a|·|b|) — cosine()'s exact expression tree,
    # bit-identical values)
    assigned = assigned.withColumn("_nv", norm(F.col("v")))
    if max_pair_block is None:
        a = assigned.select(
            "centroid_id",
            F.col("id").alias("id_a"),
            F.col("v").alias("vec_a"),
            F.col("_nv").alias("_norm_a"),
        )
        b = assigned.select(
            "centroid_id",
            F.col("id").alias("id_b"),
            F.col("v").alias("vec_b"),
            F.col("_nv").alias("_norm_b"),
        )
        cand = a.join(b, "centroid_id").filter(F.col("id_a") < F.col("id_b"))
    else:
        sizes = assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("_n_c"))
        blocked = (
            assigned.join(F.broadcast(sizes), "centroid_id")
            .withColumn(
                "_nb",
                F.ceil(F.col("_n_c") / F.lit(max_pair_block)).cast("int"),
            )
            .withColumn(
                "_blk", F.pmod(F.xxhash64(F.col("id")), F.col("_nb")).cast("int")
            )
        )
        a = blocked.select(
            "centroid_id",
            F.col("_blk").alias("_ba"),
            F.explode(F.sequence(F.col("_blk"), F.col("_nb") - 1)).alias("_bb"),
            F.col("id").alias("id_a"),
            F.col("v").alias("vec_a"),
            F.col("_nv").alias("_norm_a"),
        )
        b = blocked.select(
            "centroid_id",
            F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("_ba"),
            F.col("_blk").alias("_bb"),
            F.col("id").alias("id_b"),
            F.col("v").alias("vec_b"),
            F.col("_nv").alias("_norm_b"),
        )
        # on the diagonal key both orders of a pair appear — keep one via
        # id order; on off-diagonal keys each unordered pair appears exactly
        # once (lower block always lands on side A), in arbitrary id order
        cand = a.join(b, ["centroid_id", "_ba", "_bb"]).filter(
            (F.col("_ba") != F.col("_bb")) | (F.col("id_a") < F.col("id_b"))
        )
    return (
        cand.withColumn(
            "sim",
            dot(F.col("vec_a"), F.col("vec_b")) / (F.col("_norm_a") * F.col("_norm_b")),
        )
        .filter(F.col("sim") >= threshold)
        .select(
            "centroid_id",
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "sim",
        )
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 4,
    pq_k: int = 16,
    rerank: int | None = None,
    train_sample_mod: int | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the production cluster-scale ANN layout
    (Jégou et al.): a coarse IVF quantizer partitions the corpus into
    inverted lists, and each vector's RESIDUAL from its coarse centroid is
    product-quantized.  At serving time a query probes its n_probe nearest
    lists and ranks candidates by cosine against (coarse centroid +
    reconstructed residual) — raw vectors are never touched after
    indexing, so the searchable state is m·log2(pq_k) bits per vector plus
    two broadcastable codebooks.  ``rerank`` enables the two-stage serve:
    the top-``rerank`` ADC candidates are re-scored on the original
    vectors (point lookups by id, see :func:`ivfpq_search`).

    Spark shape: coarse centroids and PQ codebooks broadcast; the corpus
    shuffles once at index build (list assignment); the probe join is
    equality-keyed on the list id.  Returns (query_id, rank, neighbor_id,
    sim) ranked by the approximate (or, with rerank, exact) similarity."""
    index, coarse = ivfpq_build_index(
        corpus, id_col, vec_col, dim=dim, n_centroids=n_centroids, m=m,
        pq_k=pq_k, train_sample_mod=train_sample_mod,
    )
    return ivfpq_search(
        queries, index, coarse, id_col, vec_col, k=k, n_probe=n_probe,
        rerank=rerank, raw_vectors=corpus if rerank is not None else None,
    )


def ivfpq_build_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_centroids: int = 8,
    m: int = 4,
    pq_k: int = 16,
    train_sample_mod: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The index-build half of IVF-PQ: returns ``(index, coarse)`` where
    ``index`` is (neighbor_id, centroid_id, approx_vec) — the searchable
    state — and ``coarse`` the (centroid_id, centroid) routing table.
    Build once, serve many: persist with :func:`ivfpq_save_index` and the
    corpus never needs re-scanning for later query batches (the
    production split — indexing is the batch job, serving reads only the
    index).

    ``train_sample_mod``: FAISS-style train-on-sample for BOTH quantizers
    (coarse + PQ, see :func:`ivf_build_centroids`): quantizer training
    runs on the deterministic 1/mod hash-sample, and the full corpus is
    touched exactly twice — one coarse assignment, one residual encode.
    At 100 TB this is the production build: training cost is bounded by
    the sample, not the corpus."""
    coarse = ivf_build_centroids(
        corpus, id_col, vec_col, n_centroids, n_iters=2,
        train_sample_mod=train_sample_mod,
    )
    # materialized: the full-corpus coarse assignment (n·k cosine scoring +
    # a shuffle) feeds BOTH the residual/PQ chain and the final index join —
    # without the checkpoint it re-executes per consumer
    assigned = (
        ivf_assign(corpus, coarse, id_col, vec_col)
        .join(F.broadcast(coarse), "centroid_id")
        .localCheckpoint(eager=False)
    )
    residuals = assigned.select(
        "id",
        F.zip_with(
            F.col("v").cast("array<double>"), F.col("centroid"), lambda a, b: a - b
        ).alias("r"),
    )
    pq = pq_reconstruct(
        residuals, "id", "r", dim=dim, m=m, k=pq_k,
        train_sample_mod=train_sample_mod,
    )
    index = (
        assigned.select("id", "centroid_id", "centroid")
        .join(pq.select("id", "recon"), "id")
        .select(
            F.col("id").alias("neighbor_id"),
            "centroid_id",
            F.zip_with("centroid", "recon", lambda a, b: a + b).alias("approx_vec"),
        )
        .localCheckpoint(eager=False)  # searchable state; query side reuses it
    )
    return index, coarse


def ivfpq_save_index(index: DataFrame, coarse: DataFrame, path: str) -> None:
    """Persist the searchable state: the index parquet is partitioned by
    ``centroid_id``, so a probe of n_probe lists prunes to those partitions
    at scan time (PartitionFilters — the on-disk analogue of the inverted
    list)."""
    index.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/index"
    )
    coarse.write.mode("overwrite").parquet(f"{path}/coarse")


def ivfpq_load_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Reload a persisted index; searches run without the original corpus."""
    return (
        spark.read.parquet(f"{path}/index"),
        spark.read.parquet(f"{path}/coarse"),
    )


def ivfpq_search(
    queries: DataFrame,
    index: DataFrame,
    coarse: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    rerank: int | None = None,
    raw_vectors: DataFrame | None = None,
) -> DataFrame:
    """The serving half of IVF-PQ: route each query to its n_probe nearest
    coarse lists (broadcast routing table), rank the probed lists' stored
    reconstructions by cosine.  Only the probed centroid_id partitions of a
    persisted index are read.

    With ``rerank`` (and ``raw_vectors`` = the (id, vec) table to fetch
    originals from), the top ``rerank`` ADC candidates per query are
    re-scored on their TRUE vectors and the final top-k ranked on exact
    cosine — the standard two-stage IVF-PQ serve (Jégou et al. §V): ADC
    does the cheap 99% cull from the quantized index, the exact pass
    fixes the ordering quantization error scrambles near the top.  Cost
    is one equality join of |Q|·rerank candidate ids (broadcast — tiny)
    against the vector table, i.e. the point-lookup fetch every
    production ANN server does; the raw corpus is still never scanned
    against all queries."""
    from pyspark.sql import Window

    # |q| once per query (carried through routing), |approx| once per
    # index row (the projection sits below the probe join, so it is not
    # re-evaluated per candidate); sim = dot/(|q|·|approx|) — cosine()'s
    # exact expression tree, bit-identical ranking
    probes = _probe_lists(queries, coarse, id_col, vec_col, n_probe)
    cand = (
        probes.join(
            index.withColumn("_napx", norm(F.col("approx_vec"))), "centroid_id"
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            dot(F.col("q_vec"), F.col("approx_vec"))
            / (F.col("_nq") * F.col("_napx")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    ranked = cand.withColumn("rank", F.row_number().over(w).cast("long"))
    if rerank is None:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "rank", "neighbor_id", "sim"
        )
    if raw_vectors is None:
        raise ValueError("rerank requires raw_vectors to fetch originals from")
    pool = ranked.filter(F.col("rank") <= rerank).select(
        "query_id", "q_vec", "_nq", "neighbor_id"
    )
    raw = raw_vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("true_vec"),
        norm(F.col(vec_col)).alias("_ntv"),
    )
    exact = F.broadcast(pool).join(raw, "neighbor_id").withColumn(
        "sim",
        dot(F.col("q_vec"), F.col("true_vec")) / (F.col("_nq") * F.col("_ntv")),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )



def _probe_lists(queries, centroids, id_col: str, vec_col: str, n_probe: int):
    """(query_id, q_vec, _nq, centroid_id): route each query to its n_probe
    nearest coarse lists — broadcast routing table, query norm hoisted once.
    THE shared routing stanza of ivf_topk and ivfpq_search: identical
    window specs and tie-breaks exist once."""
    q_scored = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            norm(F.col(vec_col)).alias("_nq"),
        )
        .crossJoin(F.broadcast(centroids))
        .withColumn("csim", cosine(F.col("q_vec"), F.col("centroid")))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id")
    )
    return (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q_vec", "_nq", "centroid_id")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iters: int = 3,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF approximate top-k: (query_id, rank, neighbor_id, sim).

    The inverted-file structure: corpus partitioned into n_centroids lists;
    each query scans only its n_probe nearest lists.  Work drops from
    |Q| x |N| to |Q| x |N| x (n_probe/n_centroids) expected — and unlike LSH
    the recall/cost knob (n_probe) is runtime-tunable without re-indexing.
    At 100 TB: centroids broadcast (k x dim doubles), the corpus shuffles
    once on centroid_id at index build, queries join the inverted lists on
    an equality key.

    ``exclude_self``: drop candidates whose id equals the query id — right
    for self-search (queries ⊆ corpus), WRONG when queries and corpus are
    different collections that happen to share an id space (bitext groups
    aligned by id: the filter silently removed the gold pair) —
    cross-collection callers pass False."""
    from pyspark.sql import Window

    centroids = ivf_build_centroids(corpus, id_col, vec_col, n_centroids, n_iters)
    inv_lists = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("c_vec"),
        norm(F.col("v")).alias("_ncv"),
        "centroid_id",
    )
    probes = _probe_lists(queries, centroids, id_col, vec_col, n_probe)
    cand = probes.join(inv_lists, "centroid_id")
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    cand = cand.withColumn(
        "sim",
        dot(F.col("q_vec"), F.col("c_vec")) / (F.col("_nq") * F.col("_ncv")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Approximate cosine top-k: (query_id, rank, neighbor_id, sim).

    Signature -> band -> bucket join -> exact cosine only within candidates.
    With b bands of r planes, P[candidate] = 1-(1-p^r)^b where p = 1 - θ/π:
    near-duplicate angles almost surely collide, orthogonal ones rarely.
    Tune r to the corpus similarity gap: high-sim corpora afford r=8+ (strong
    pruning); weak-signal corpora (top-k cosine ~0.4, p~0.63) need r=2..4 or
    recall collapses — recall 1-(1-p^r)^b governs the choice.
    At 100 TB the bucket join replaces the cross join — shuffle volume drops
    from |Q|x|N| to the bucket occupancy."""
    from european_emissions_data_warehouse_spark.operators.dedup import (
        _band_from_sigs,
        _bucket_join,
        _sig_buckets,
    )

    # refuses a bands that does not divide n_planes before the plane job
    buckets = _sig_buckets(n_planes, bands)
    # plane matrix evaluated once (driver-side literals, bit-identical to
    # the per-row hash derivation — see _hyperplane_planes)
    planes = _hyperplane_planes(corpus.sparkSession, dim, n_planes)

    def banded(df: DataFrame, prefix: str) -> DataFrame:
        # the norm rides the banded frame as 8 bytes (computed once per
        # input vector, not once per band-collision candidate)
        signed = df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"{prefix}_vec"),
            norm(F.col(vec_col)).alias(f"_n{prefix}"),
        ).withColumn("sig", _signature_from_planes(F.col(f"{prefix}_vec"), planes))
        return _band_from_sigs(signed, [f"{prefix}_id", f"{prefix}_vec", f"_n{prefix}"], buckets)

    # the norm columns are functions of the vecs, so keeping them in the
    # distinct leaves the candidate set unchanged
    cand = _bucket_join(
        banded(queries, "q"),
        banded(corpus, "c"),
        F.col("c_id") != F.col("q_id"),
        [
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            "q_vec", "c_vec", "_nq", "_nc",
        ],
    )
    # sim = dot/(|q|·|c|) — cosine()'s exact expression tree, bit-identical
    scored = cand.withColumn(
        "sim", dot(F.col("q_vec"), F.col("c_vec")) / (F.col("_nq") * F.col("_nc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def mutual_nn_pairs(
    vectors: DataFrame,
    group_a,
    group_b,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Bitext-style pair mining (the CCMatrix/LASER margin recipe): the
    cross-group pairs that are MUTUAL cosine nearest neighbors — a is b's
    top-1 among group_a AND b is a's top-1 among group_b — plus a's margin
    (top-1 sim minus runner-up sim; a difference of two bit-exact values,
    so it is itself engine-exact, unlike ratio-to-mean margins whose
    summation order varies).

    Output: ``(id_a, id_b, sim, margin_a)`` rounded to 4 decimals;
    ``margin_a`` is NULL when group_b has a single vector.

    Shape: both rank directions and the margin LEAD ride as stacked window
    functions over ONE scored frame — the cross join is evaluated once.
    This is the exact all-pairs baseline (same contract as
    :func:`cosine_neardup_pairs`); at corpus scale the scored frame comes
    from an ANN candidate stage (``ivf_topk``/``lsh_topk`` buckets) instead
    of the cross join, and the mutual/margin logic is unchanged.
    """
    a = vectors.filter(F.col(group_col) == group_a).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm(F.col(vec_col)).alias("_norm_a"),
    )
    b = vectors.filter(F.col(group_col) == group_b).select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm(F.col(vec_col)).alias("_norm_b"),
    )
    scored = (
        a.crossJoin(F.broadcast(b))
        .withColumn(
            "sim",
            dot(F.col("vec_a"), F.col("vec_b")) / (F.col("_norm_a") * F.col("_norm_b")),
        )
        .select("id_a", "id_b", "sim")
    )
    wa = Window.partitionBy("id_a").orderBy(F.col("sim").desc(), F.col("id_b"))
    wb = Window.partitionBy("id_b").orderBy(F.col("sim").desc(), F.col("id_a"))
    ranked = (
        scored.withColumn("rn_a", F.row_number().over(wa))
        .withColumn("next_sim", F.lead("sim").over(wa))
        .withColumn("rn_b", F.row_number().over(wb))
    )
    return (
        ranked.filter((F.col("rn_a") == 1) & (F.col("rn_b") == 1))
        .select(
            "id_a",
            "id_b",
            F.round(F.col("sim"), 4).alias("sim"),
            F.round(F.col("sim") - F.col("next_sim"), 4).alias("margin_a"),
        )
    )


def mutual_nn_pairs_ann(
    vectors: DataFrame,
    group_a,
    group_b,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    dim: int = 64,
    n_centroids: int = 8,
    n_probe: int = 2,
) -> DataFrame:
    """The corpus-scale form of :func:`mutual_nn_pairs`: candidate pairs
    come from IVF indexes over each group instead of the cross join, then
    the same mutual-top-1 logic runs on TRUE cosines of the candidates.

    Each side indexes once (one shuffle, keyed on the coarse list) and the
    other side probes its n_probe lists — candidate volume is
    O(n · corpus/centroids · n_probe), never n_a × n_b.  Raising n_probe
    trades compute for recall exactly as in ``ivf_topk``; the recall test
    pins the overlap against the exact miner on the test corpus.  Top-1s
    are re-ranked on true cosine (not ADC), so any pair this emits carries
    its exact similarity — approximation affects only which candidates are
    seen.

    Contract matches the exact miner: ``(id_a, id_b, sim, margin_a)``,
    margin_a = a's top-1 sim minus its runner-up within the probed
    candidates (NULL when only one candidate is seen) — the CCMatrIX-style
    filtering signal the exact form emits; omitting it broke any
    margin-based quality cut on the scale path.  ``exclude_self=False``
    on both probes: the groups are
    DIFFERENT collections, and ivf_topk's self-id filter silently removed
    gold pairs whose aligned ids coincide across groups."""
    a = vectors.filter(F.col(group_col) == group_a).select(
        id_col, _width_checked(F.col(vec_col), dim, "mutual_nn_pairs_ann").alias(vec_col)
    )
    b = vectors.filter(F.col(group_col) == group_b).select(
        id_col, _width_checked(F.col(vec_col), dim, "mutual_nn_pairs_ann").alias(vec_col)
    )
    # candidates: a-queries probe b's index (k=2 so the runner-up yields
    # the margin), and vice versa (k=1 — only the top matters for
    # mutuality)
    a_to_b = ivf_topk(
        a, b, id_col, vec_col, k=2, n_centroids=n_centroids, n_probe=n_probe,
        exclude_self=False,
    )
    b_to_a = ivf_topk(
        b, a, id_col, vec_col, k=1, n_centroids=n_centroids, n_probe=n_probe,
        exclude_self=False,
    )
    runner_up = a_to_b.filter(F.col("rank") == 2).select(
        F.col("query_id").alias("id_a"), F.col("sim").alias("_sim2")
    )
    best_a = (
        a_to_b.filter(F.col("rank") == 1)
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            F.col("sim").alias("sim"),
        )
        .join(runner_up, "id_a", "left")
    )
    best_b = b_to_a.filter(F.col("rank") == 1).select(
        F.col("neighbor_id").alias("id_a"),
        F.col("query_id").alias("id_b"),
    )
    return best_a.join(best_b, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        F.round("sim", 4).alias("sim"),
        F.round(F.col("sim") - F.col("_sim2"), 4).alias("margin_a"),
    )
