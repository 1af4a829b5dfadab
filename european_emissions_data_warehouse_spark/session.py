"""SparkSession factory.

One session owns ingest -> clean -> merge -> query (vs. the reference's five
process boundaries, SURVEY.md §3.4).  Defaults are tuned for correctness tests
on local[N] while remaining the right baseline for a large cluster:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition number is always wrong; AQE re-plans from runtime stats.
- Arrow on — every pandas UDF / mapInPandas path is Arrow-batched.
- A modest autoBroadcastJoinThreshold: dimension tables (nation/region/
  supplier and the 30-row country dim) must broadcast, never shuffle.
- Python call-site capture off (``spark.python.sql.dataFrameDebugging.
  enabled=false``).  With PySpark 4's default every Column or function
  call makes about five extra driver-to-JVM round trips to attach its
  Python ``file:line`` to Spark's error context, which dominates the plan
  build of a small per-drop query.  Errors keep Spark's error class and
  message and lose only that Python location; to get it back, pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
  to ``get_session``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_session(
    app_name: str = "european-emissions-dw-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we default to
    ``local[$SPARK_GRAFT_CPUS]`` (fallback: all cores).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # AQE's parallelism-first coalescing (the default) aims for
        # defaultParallelism post-shuffle partitions but never below
        # minPartitionSize — whose 1 MB default binds exactly when a shuffle
        # is byte-small but CPU-dense (the dedup family's gram joins, the
        # similarity fan-outs: 2-5 MB of 8-byte keys fanning into heavy
        # per-row work), capping those stages at 1-5 tasks regardless of
        # core count (r9 stage audit: the capped-jaccard join stage ran 2
        # tasks on 32 cores).  256 KB lets those stages spread ~4-10x while
        # keeping partitions large enough that task-launch overhead stays
        # amortized (64 KB was measured SLOWER than 256 KB on the iterative
        # component queries — 32 near-empty tasks per round); at production
        # shuffle sizes (>= 256 KB x parallelism) the floor is not binding
        # and coalescing behaves exactly as before — a scale-adaptive
        # default, not a local[32] tune (guide §2.2/§2.5).  A fixed value;
        # ``extra_conf`` overrides it for one session.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256k",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.session.timeZone": "UTC",
        # no Python call-site capture per Column call (module docstring)
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # Python DataSources (sources/synthetic.py) declare pushFilters;
        # Spark 4 refuses to plan them unless pushdown is explicitly on.
        "spark.sql.python.filterPushdown.enabled": "true",
        # Recursive-CTE brakes stay at Spark defaults HERE: the 1M-row
        # brake is a fail-fast guard against exploding per-level fan-out,
        # and removing it globally would trade that away for every
        # recursive query.  The one query whose row count legitimately
        # scales with the data (recursive_ancestry, ~600M chain rows at
        # sf100) raises the ceiling AT THE CALL SITE to a large finite
        # value — see plans/analytics.py::q_recursive_ancestry.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# --- call-site-scoped session conf overrides (ADVICE r7) -------------------
#
# ``spark.conf.set`` at plan-build time is session-sticky: in shared-session
# runs (the pytest spark fixture, tools/layout_fuzz.py's parity loop,
# tools/determinism_sweep.py) every query built AFTER an overriding one
# inherits the override, silently negating engine-wide defaults the
# override was scoped away from (the recursive-CTE 1M-row fail-fast brake).
# A try/finally around build alone cannot fix this — Spark reads the conf at
# EXECUTION, which happens after the query function returns — so the scoping
# contract is split: the query records-and-sets via ``set_scoped_conf``, and
# every shared-session harness calls ``restore_scoped_confs`` after it has
# EXECUTED the query.  Prior values are remembered once per key (first set
# wins), so repeated builds before a restore stay correct.

_UNSET = object()


def set_scoped_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a session conf a single query's build+execute legitimately needs,
    remembering the prior value so ``restore_scoped_confs`` can return the
    session to its defaults once that query has executed."""
    prior = getattr(spark, "_graft_scoped_conf_prior", None)
    if prior is None:
        prior = {}
        spark._graft_scoped_conf_prior = prior
    if key not in prior:
        try:
            prior[key] = spark.conf.get(key)
        except Exception:  # key has no value and no retrievable default
            prior[key] = _UNSET
    spark.conf.set(key, value)


def restore_scoped_confs(spark: SparkSession) -> None:
    """Undo every ``set_scoped_conf`` on this session (no-op when none are
    pending).  Harness loops call this after each query's execution."""
    prior = getattr(spark, "_graft_scoped_conf_prior", None)
    if not prior:
        return
    for key, val in prior.items():
        if val is _UNSET:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, val)
    prior.clear()
