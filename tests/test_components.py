"""connected_components contracts (operators/dedup.py): labeling
correctness on hand-built graphs, equality of the driver union-find and
the distributed star paths, the driver path's job count, plus cluster
invariants on real near-dup pairs. The oracle-parity test cross-checks the
full query against a DuckDB recursive CTE."""

from __future__ import annotations

from pyspark.sql import functions as F

from european_emissions_data_warehouse_spark.operators.dedup import (
    _DRIVER_EDGES,
    _star_components,
    connected_components,
    ngram_jaccard_pairs,
)
from european_emissions_data_warehouse_spark.sources.readers import load_table


def test_toy_graph_components(spark):
    """Labels a small graph on the driver in at most two Spark jobs: one
    bounded collect plus the consumer's own collect.  Round-by-round label
    propagation ran a job per round plus convergence probes: 24 here."""
    sc = spark.sparkContext
    # path 1-2-3 (needs >1 propagation round), triangle 20-21-22, pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)], ["id_a", "id_b"]
    )
    group = "test-components-job-count"
    sc.setJobGroup(group, "connected_components job count")
    try:
        got = {(r.id, r.component) for r in connected_components(pairs).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 1 <= n_jobs <= 2, n_jobs


def test_long_path_needs_many_rounds(spark):
    # a 12-node path: the root label must reach the far end
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], ["id_a", "id_b"])
    comps = connected_components(pairs)
    assert comps.select("component").distinct().collect() == [(0,)]


def test_pair_endpoints_share_component(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=5, unit="word", threshold=0.4)
    comps = connected_components(pairs)
    a = comps.withColumnRenamed("id", "id_a").withColumnRenamed("component", "comp_a")
    b = comps.withColumnRenamed("id", "id_b").withColumnRenamed("component", "comp_b")
    split_edges = (
        pairs.join(a, "id_a").join(b, "id_b").filter(F.col("comp_a") != F.col("comp_b")).count()
    )
    assert split_edges == 0
    # component id is the min member id
    bad_min = (
        comps.groupBy("component")
        .agg(F.min("id").alias("min_id"))
        .filter(F.col("component") != F.col("min_id"))
        .count()
    )
    assert bad_min == 0


def _labels(df) -> set:
    return {(r.id, r.component) for r in df.collect()}


def test_union_find_matches_star_on_random_graphs(spark):
    """The driver union-find must produce the identical (id, component)
    labeling as the distributed large-star/small-star path — checked on
    seeded random graphs with many components, long paths, and dense
    blobs."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 120
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
        # self-loops stay IN: both paths must label a node that appears
        # only in (x, x) pairs; plus a long path to stress diameter
        edges += [(200 + i, 201 + i) for i in range(18)]
        assert len(edges) <= _DRIVER_EDGES  # the public call takes the driver path
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        uf = _labels(connected_components(pairs))
        st = _labels(_star_components(pairs, "id_a", "id_b", 50))
        assert uf == st, f"seed={seed}: union-find != star"


def test_string_ids_take_driver_path_and_match_star(spark):
    pairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("z", "z")], "id_a string, id_b string"
    )
    comps = connected_components(pairs)
    assert comps.schema["id"].dataType == comps.schema["component"].dataType
    assert _labels(comps) == _labels(_star_components(pairs, "id_a", "id_b", 50)) == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"), ("z", "z"),
    }


def test_empty_pairs_give_empty_labeling(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    comps = connected_components(pairs)
    assert comps.columns == ["id", "component"]
    assert comps.schema["id"].dataType.simpleString() == "bigint"
    assert comps.collect() == []


def test_star_converges_past_min_label_diameter_limit(spark):
    """The point of the star rewrites: a 40-node path needs 40 rounds of
    one-hop label flooding, past a 25-round cap, but star contraction
    halves the diameter each round and finishes in O(log n)."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(40)], ["id_a", "id_b"])
    comps = _star_components(pairs, "id_a", "id_b", 25)
    assert comps.select("component").distinct().collect() == [(0,)]
    assert comps.count() == 41


def test_star_toy_graph(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)], ["id_a", "id_b"]
    )
    got = _labels(_star_components(pairs, "id_a", "id_b", 50))
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_star_labels_self_loop_only_nodes(spark):
    """A node appearing only as (x, x) — an id pairing with itself after
    normalization — must still receive a label, on both paths."""
    pairs = spark.createDataFrame([(5, 5), (1, 2)], ["id_a", "id_b"])
    uf = _labels(connected_components(pairs))
    st = _labels(_star_components(pairs, "id_a", "id_b", 50))
    assert st == uf == {(1, 1), (2, 1), (5, 5)}
