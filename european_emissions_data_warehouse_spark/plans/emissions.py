"""The flagship emissions ETL — reference operators O1..O11 re-expressed
Spark-first (SURVEY.md §2.1, reference scripts/etl_process.py:67-102).

The chain is a single narrow (shuffle-free) DataFrame pipeline of one
filter and one projection, both SQL expression strings:

    scan -> filter(null-drop AND Gas = total AND CountryCode IN codes)
         -> project(decode Country, cast Year, Scenario, Category,
                    constant Gas, cast ReportedValue, constant Unit)
         -> sink

Dim decode (O9, reference scripts/etl_process.py:67,92) is the reference's
literal ``map(...)[CountryCode]`` lookup: the dimension is the 30-entry
``COUNTRY_CODE_MAP``, written as one map literal, so the decode adds no
join, no broadcast build and no Python-worker task.

Differences from the reference, on purpose (SURVEY.md §1.2):
- explicit typed schema at ingest instead of all-strings;
- Parquet sink instead of CSV (the reference *says* parquet in comments but
  writes CSV — behavior documented, not replicated);
- the no-op rename of a cell value (O7, scripts/etl_process.py:90 — a latent
  bug: renames a column that never exists) is documented here and not
  replicated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The 30-entry country code -> name dimension, hard-coded in the reference
# (scripts/etl_process.py:33-64; FIXTURES.md F2).
COUNTRY_CODE_MAP: dict[str, str] = {
    "AT": "Austria", "BE": "Belgium", "BG": "Bulgaria", "HR": "Croatia",
    "CY": "Cyprus", "CZ": "Czechia", "DK": "Denmark", "EE": "Estonia",
    "FI": "Finland", "FR": "France", "DE": "Germany", "EL": "Greece",
    "HU": "Hungary", "IS": "Iceland", "IE": "Ireland", "IT": "Italy",
    "LV": "Latvia", "LT": "Lithuania", "LU": "Luxembourg", "MT": "Malta",
    "NL": "Netherlands", "NO": "Norway", "PL": "Poland", "PT": "Portugal",
    "RO": "Romania", "SK": "Slovakia", "SI": "Slovenia", "ES": "Spain",
    "SE": "Sweden", "CH": "Switzerland",
}

RAW_COLUMNS = ["CountryCode", "Year", "Scenario", "Category", "Gas", "Reported Value"]
TOTAL_GHG_RAW = "Total GHG emissions (ktCO2e)"
TOTAL_GHG = "Total GHG emissions"
UNIT_KT_CO2E = "kt CO2 equivalent"
OUTPUT_COLUMNS = ["Country", "Year", "Scenario", "Category", "Gas", "ReportedValue", "Unit"]


# clean_emissions as SQL expression strings, built once at import: the
# whole chain is two DataFrame calls, so a drop's plan costs a handful of
# driver-to-JVM calls instead of one per column function and literal.
_NOT_NULL = " AND ".join(f"`{c}` IS NOT NULL" for c in RAW_COLUMNS)
_CODES = ", ".join(f"'{c}'" for c in COUNTRY_CODE_MAP)
_DECODE = "map({})[CountryCode]".format(
    ", ".join(f"'{k}', '{v}'" for k, v in COUNTRY_CODE_MAP.items())
)
_IS_TOTAL = f"Gas = '{TOTAL_GHG_RAW}'"
_KEEP = f"{_NOT_NULL} AND {_IS_TOTAL} AND CountryCode IN ({_CODES})"
_OUTPUT = [
    f"{_DECODE} AS Country",
    "CAST(Year AS INT) AS Year",
    "Scenario",
    "Category",
    f"CASE WHEN {_IS_TOTAL} THEN '{TOTAL_GHG}' ELSE Gas END AS Gas",
    "CAST(`Reported Value` AS DOUBLE) AS ReportedValue",
    f"CASE WHEN {_IS_TOTAL} THEN '{UNIT_KT_CO2E}' END AS Unit",
]


def clean_emissions(raw: DataFrame) -> DataFrame:
    """O2..O10: the transformation chain of the Glue job
    (reference scripts/etl_process.py:81-93), typed, as one filter and one
    projection:

    - filter: O3 null-drop over ``RAW_COLUMNS`` (etl_process.py:83) and O4
      equality + IN-list (etl_process.py:84-85);
    - projection, in ``OUTPUT_COLUMNS`` order: O9 country decode as the
      reference's map literal (etl_process.py:67,92), the typed Year, O6
      Gas recoded to ``TOTAL_GHG`` and O5 Unit derived as ``UNIT_KT_CO2E``
      (etl_process.py:86-89), O8 rename to ReportedValue, typed.  O4 keeps
      only the raw total label, so Gas and Unit are constants; they keep
      the reference's conditional form, whose dead branches leave both
      columns nullable as before.

    O7 (etl_process.py:90) renames a non-existent column, a documented
    no-op, and is not replicated.  Typing uses plain casts under ANSI
    deliberately: a malformed Year/ReportedValue ABORTS the job, the same
    behavior as the reference's Postgres COPY
    (lambda_handler_warehouse.py:85-92) — use analytics' try_cast pattern
    when lenient import is wanted.
    """
    return raw.filter(F.expr(_KEEP)).select(*[F.expr(e) for e in _OUTPUT])


def write_warehouse(df: DataFrame, path: str) -> None:
    """O11 sink: atomic overwrite (reference writes CSV with mode=overwrite,
    scripts/etl_process.py:99-102; we standardize on Parquet, SURVEY.md §1.2)."""
    df.write.mode("overwrite").parquet(path)


def write_warehouse_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
) -> None:
    """Literal warehouse-sink parity: load the result into a JDBC database
    (the reference's end state is a queryable PostgreSQL table,
    scripts/lambda_handler_warehouse.py:45-101, README.md:141-147).  Parquet
    (`write_warehouse`) remains the primary sink — at 100 TB a JDBC load is
    bounded by the database, not Spark — but a user replaying the
    reference's flow into an actual Postgres gets it in one call:

        write_warehouse_jdbc(df, "jdbc:postgresql://host/db", "emissions",
                             properties={"user": ..., "password": ...})

    Each partition opens one connection and streams `batchsize`-row inserts
    (Spark's JDBC writer is per-partition parallel); cap partitions with
    `df.coalesce(n)` to respect the database's connection limit.  Requires
    the JDBC driver jar on the Spark classpath.  No Postgres jar ships in
    this container, but the full live path (dialect DDL, batched insert,
    overwrite/append, partitioned readback) is integration-tested against
    embedded Derby, which pyspark bundles
    (tests/test_emissions_etl.py::test_jdbc_live_roundtrip_via_derby);
    Postgres differs only by dialect."""
    # properties ride ONLY the .jdbc(properties=...) channel —
    # DataFrameWriter.jdbc merges them into the writer options itself, so
    # the old duplicate option() loop was dead plumbing (code-review r4)
    df.write.option("batchsize", batchsize).jdbc(
        url, table, mode=mode, properties=properties or {}
    )


def clean_emissions_observed(raw: DataFrame):
    """``clean_emissions`` plus free pipeline telemetry: an ``Observation``
    rides the existing job, so the warehouse write that runs anyway also
    yields row counts, null counts, and value bounds — the data-quality
    numbers an operator wants after every load, at ZERO extra scans (the
    reference gets none of this; its Glue job is fire-and-forget,
    scripts/etl_process.py:99-102).

    Contrast with operators/expectations.py: that module is the explicit
    audit pass you run on demand; this is the always-on counter set whose
    cost is an accumulator merge per task.  At 100 TB the difference is a
    second full scan vs nothing.

    Returns ``(df, observation)``; read ``observation.get`` AFTER an action
    has consumed ``df`` (e.g. ``write_warehouse``)."""
    from pyspark.sql import Observation

    obs = Observation("emissions_etl")
    df = clean_emissions(raw).observe(
        obs,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.col("ReportedValue").isNull().cast("long")).alias("null_values"),
        F.min("Year").alias("min_year"),
        F.max("Year").alias("max_year"),
        F.round(F.sum("ReportedValue"), 2).alias("total_reported"),
    )
    return df, obs
