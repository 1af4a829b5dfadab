"""Golden tests for the flagship emissions ETL (reference O1..O11 + O16).

Covers what the reference never tested (SURVEY.md §5.2): null-drop, filter,
recode, decode and its plan shape, upsert idempotency and last-write-wins.
Fixture rows implement FIXTURES.md F1's required edge cases.
"""

from __future__ import annotations

import pytest

from european_emissions_data_warehouse_spark.operators.merge import (
    check_unique,
    upsert_anti_join,
    with_surrogate_key,
)
from european_emissions_data_warehouse_spark.plans.emissions import (
    OUTPUT_COLUMNS,
    TOTAL_GHG,
    TOTAL_GHG_RAW,
    UNIT_KT_CO2E,
    clean_emissions,
)
from european_emissions_data_warehouse_spark.sources.schemas import (
    EMISSIONS_RAW_SCHEMA,
    WAREHOUSE_KEY,
)

GOOD = ("DE", "2025", "WEM", "Energy", TOTAL_GHG_RAW, "1234.56", "2022", "E")


def raw_df(spark, rows):
    return spark.createDataFrame(rows, EMISSIONS_RAW_SCHEMA)


@pytest.fixture(scope="module")
def fixture_rows():
    return [
        GOOD,
        # (a) null in each of the 6 selected columns -> dropped by O3
        (None, "2025", "WEM", "Energy", TOTAL_GHG_RAW, "1.0", "2022", "E"),
        ("FR", None, "WEM", "Energy", TOTAL_GHG_RAW, "1.0", "2022", "E"),
        ("FR", "2025", None, "Energy", TOTAL_GHG_RAW, "1.0", "2022", "E"),
        ("FR", "2025", "WEM", None, TOTAL_GHG_RAW, "1.0", "2022", "E"),
        ("FR", "2025", "WEM", "Energy", None, "1.0", "2022", "E"),
        ("FR", "2025", "WEM", "Energy", TOTAL_GHG_RAW, None, "2022", "E"),
        # null only in a *dropped* column -> survives
        ("FR", "2030", "WAM", "Agriculture", TOTAL_GHG_RAW, "-12.5", None, None),
        # (b) non-mapped CountryCode -> filtered by O4 isin
        ("XX", "2025", "WEM", "Energy", TOTAL_GHG_RAW, "1.0", "2022", "E"),
        ("GB", "2025", "WEM", "Energy", TOTAL_GHG_RAW, "1.0", "2022", "E"),
        # (c) non-total Gas -> filtered by O4 equality
        ("DE", "2025", "WEM", "Energy", "CO2", "55.5", "2022", "E"),
        ("DE", "2025", "WEM", "Energy", "CH4", "5.5", "2022", "E"),
        # (e) row differing from GOOD only in a dropped column -> duplicate
        # key after projection; category with embedded comma
        ("AT", "2050", "WOM", "Land Use, Land-Use Change and Forestry",
         TOTAL_GHG_RAW, "7.25", "2021", None),
    ]


def test_clean_golden(spark, fixture_rows):
    out = clean_emissions(raw_df(spark, fixture_rows))
    assert out.columns == OUTPUT_COLUMNS
    rows = {tuple(r) for r in out.collect()}
    assert rows == {
        ("Germany", 2025, "WEM", "Energy", TOTAL_GHG, 1234.56, UNIT_KT_CO2E),
        ("France", 2030, "WAM", "Agriculture", TOTAL_GHG, -12.5, UNIT_KT_CO2E),
        ("Austria", 2050, "WOM", "Land Use, Land-Use Change and Forestry",
         TOTAL_GHG, 7.25, UNIT_KT_CO2E),
    }


def test_clean_plan_has_no_join_or_python_rows(spark, fixture_rows, tmp_path):
    """The country decode is a map literal: over a CSV file source the
    optimized plan holds no Join and no LogicalRDD (a Python-list dimension
    would run Python-worker tasks on every drop)."""
    import csv

    src = tmp_path / "drop.csv"
    with open(src, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(EMISSIONS_RAW_SCHEMA.fieldNames())
        w.writerows(fixture_rows)
    raw = spark.read.csv(str(src), schema=EMISSIONS_RAW_SCHEMA, header=True)
    out = clean_emissions(raw)
    plan = out._jdf.queryExecution().optimizedPlan().treeString()
    assert "Join" not in plan and "LogicalRDD" not in plan, plan
    assert len(out.collect()) == 3


def test_types_match_warehouse_ddl(spark, fixture_rows):
    # reference DDL types: lambda_handler_warehouse.py:53-65
    out = clean_emissions(raw_df(spark, fixture_rows))
    dtypes = dict(out.dtypes)
    assert dtypes["Year"] == "int"
    assert dtypes["ReportedValue"] == "double"
    assert dtypes["Country"] == "string"


@pytest.mark.parametrize("merge", [upsert_anti_join])
def test_upsert_last_write_wins(spark, fixture_rows, merge):
    old = clean_emissions(raw_df(spark, fixture_rows))
    # re-ingest with a changed value for the GOOD key (FIXTURES.md F3 check)
    changed = GOOD[:5] + ("9999.0",) + GOOD[6:]
    new = clean_emissions(raw_df(spark, [changed]))
    merged = merge(old, new, WAREHOUSE_KEY)
    assert merged.count() == old.count()  # update in place, no duplicate
    val = merged.filter("Country = 'Germany'").select("ReportedValue").collect()
    assert [r.ReportedValue for r in val] == [9999.0]
    assert check_unique(merged, WAREHOUSE_KEY) == 0


@pytest.mark.parametrize("merge", [upsert_anti_join])
def test_upsert_idempotent(spark, fixture_rows, merge):
    cleaned = clean_emissions(raw_df(spark, fixture_rows))
    twice = merge(cleaned, cleaned, WAREHOUSE_KEY)
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, cleaned.collect()))


def test_surrogate_key_deterministic(spark, fixture_rows):
    cleaned = clean_emissions(raw_df(spark, fixture_rows))
    ids1 = with_surrogate_key(cleaned, WAREHOUSE_KEY).select("id", "Country").collect()
    ids2 = with_surrogate_key(cleaned, WAREHOUSE_KEY).select("id", "Country").collect()
    assert sorted(map(tuple, ids1)) == sorted(map(tuple, ids2))
    assert {r.id for r in ids1} == {1, 2, 3}


def test_jdbc_sink_call_path(spark, sf_dir):
    """No JDBC driver jar ships in this container, so the sink can't reach a
    database — but the call must get as far as JDBC driver resolution (i.e.
    our option plumbing is correct and the failure is the documented missing
    driver, not a Python-side error)."""
    import pytest as _pytest

    from european_emissions_data_warehouse_spark.plans.emissions import (
        write_warehouse_jdbc,
    )
    from european_emissions_data_warehouse_spark.sources.readers import load_table

    df = load_table(spark, sf_dir, "nation").limit(1)
    with _pytest.raises(Exception, match="(?i)driver|jdbc"):
        write_warehouse_jdbc(df, "jdbc:postgresql://localhost:1/none", "t")


def test_fetch_to_lake_local_roundtrip(tmp_path):
    """O18 fetch: file:// exercises the full stream-download + atomic-rename
    path without a network."""
    from european_emissions_data_warehouse_spark.sources.readers import fetch_to_lake

    src = tmp_path / "src.csv"
    src.write_bytes(b"a,b\n1,2\n" * 1000)
    dest = str(tmp_path / "lake" / "raw.csv")
    out = fetch_to_lake(src.as_uri(), dest)
    assert out == dest
    with open(dest, "rb") as f:
        assert f.read() == src.read_bytes()
    import os as _os

    assert not _os.path.exists(dest + ".part")


def test_observed_etl_metrics_ride_the_write(spark, fixture_rows, tmp_path):
    """clean_emissions_observed: the warehouse write that runs anyway also
    produces the DQ counter set — values must match the golden output, with
    no second scan (Observation is accumulator-backed)."""
    from european_emissions_data_warehouse_spark.plans.emissions import (
        clean_emissions_observed,
        write_warehouse,
    )

    df, obs = clean_emissions_observed(raw_df(spark, fixture_rows))
    write_warehouse(df, str(tmp_path / "wh"))
    m = obs.get
    assert m["rows_out"] == 3
    assert m["null_values"] == 0
    assert (m["min_year"], m["max_year"]) == (2025, 2050)
    assert m["total_reported"] == round(1234.56 - 12.5 + 7.25, 2)


def test_jdbc_read_call_path(spark):
    """Read twin of the sink call-path test: option plumbing (including the
    partitioned-scan options) must reach JDBC driver resolution; the
    missing-bounds misuse fails fast Python-side."""
    import pytest as _pytest

    from european_emissions_data_warehouse_spark.sources.readers import read_jdbc

    with _pytest.raises(ValueError, match="lower_bound"):
        read_jdbc(spark, "jdbc:postgresql://localhost:1/none", "t",
                  partition_column="id")
    with _pytest.raises(Exception, match="(?i)driver|jdbc"):
        read_jdbc(spark, "jdbc:postgresql://localhost:1/none", "t",
                  partition_column="id", lower_bound=0, upper_bound=100,
                  num_partitions=4).count()


def test_provenance_columns(spark, sf_dir):
    """with_provenance stamps the true source file per row, map-side."""
    from european_emissions_data_warehouse_spark.sources.readers import (
        load_table,
        with_provenance,
    )

    df = with_provenance(load_table(spark, sf_dir, "nation"), ingest_label="r3")
    rows = df.select("_source_file", "_ingest_label").distinct().collect()
    assert all(r["_ingest_label"] == "r3" for r in rows)
    assert all("nation.parquet" in r["_source_file"] for r in rows)


def test_fetch_to_lake_cleans_partial_file_on_failure(tmp_path):
    """A failed download must not leave a torn .part inside the lake dir —
    a later whole-directory scan would ingest it as data (code-review r4).
    file:// to a nonexistent source exercises the failure path."""
    import os as _os

    import pytest as _pytest

    from european_emissions_data_warehouse_spark.sources.readers import fetch_to_lake

    dest = str(tmp_path / "lake" / "raw.csv")
    with _pytest.raises(Exception):
        fetch_to_lake((tmp_path / "missing.csv").as_uri(), dest)
    assert not _os.path.exists(dest)
    assert not _os.path.exists(dest + ".part")


def test_jdbc_live_roundtrip_via_derby(spark, sf_dir, tmp_path):
    """LIVE JDBC integration (closes the r4 env-gap on the JDBC sink):
    Derby ships inside pyspark/jars, auto-registers its embedded driver,
    and Spark carries a built-in DerbyDialect — so the exact production
    code path (DataFrameWriter.jdbc -> JdbcRelationProvider -> dialect DDL
    -> batched inserts, then the partitioned-stripe read) runs against a
    real SQL database with zero extra dependencies.  Postgres differs only
    by dialect string; the plumbing proven here is the same."""
    from european_emissions_data_warehouse_spark.plans.emissions import (
        write_warehouse_jdbc,
    )
    from european_emissions_data_warehouse_spark.sources.readers import (
        load_table,
        read_jdbc,
    )

    nation = load_table(spark, sf_dir, "nation")
    url = f"jdbc:derby:{tmp_path}/db;create=true"

    write_warehouse_jdbc(nation, url, "nation_wh")
    back = read_jdbc(
        spark, url, "nation_wh",
        partition_column="n_nationkey", lower_bound=0, upper_bound=24,
        num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4  # the stripes actually split
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, nation.collect())
    )

    # append mode: second load doubles the rows through the same sink
    write_warehouse_jdbc(nation.limit(3), url, "nation_wh", mode="append")
    assert read_jdbc(spark, url, "nation_wh").count() == nation.count() + 3

    # overwrite drops and recreates
    write_warehouse_jdbc(nation.limit(5), url, "nation_wh")
    assert read_jdbc(spark, url, "nation_wh").count() == 5


def test_postgres_dialect_ddl_pin(spark, fixture_rows):
    """Pin the Postgres-dialect half of the JDBC sink WITHOUT a server
    (closes the last inferred parity claim, VERDICT r5 item #6): the Derby
    roundtrip above proves the DataFrameWriter.jdbc plumbing; this test
    proves the OTHER variable — the dialect — by loading Spark's own
    PostgresDialect and asserting the DDL types it would generate for the
    warehouse frame match the reference's hand-written CREATE TABLE
    (/root/reference/scripts/lambda_handler_warehouse.py:53-65):
    VARCHAR columns land as TEXT (same varlena type, no length cap),
    Year INTEGER as INTEGER, ReportedValue FLOAT as FLOAT8 (the Postgres
    name for DOUBLE PRECISION — pg aliases bare FLOAT to float8)."""
    df = clean_emissions(raw_df(spark, fixture_rows))

    jvm = spark._jvm
    dialect = jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(
        "jdbc:postgresql://host:5432/emissions"
    )
    assert dialect.getClass().getSimpleName() == "PostgresDialect"

    def ddl_type(dt_json_field):
        jdt = jvm.org.apache.spark.sql.types.DataType.fromJson(
            dt_json_field.dataType.json()
        )
        opt = dialect.getJDBCType(jdt)
        if opt.isDefined():
            return opt.get().databaseTypeDefinition()
        # dialect falls back to Spark's common JDBC mapping
        common = (
            jvm.org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
            .getCommonJDBCType(jdt)
        )
        assert common.isDefined(), f"no JDBC type for {dt_json_field}"
        return common.get().databaseTypeDefinition()

    got = {f.name: ddl_type(f) for f in df.schema.fields}
    # reference DDL: VARCHAR / INTEGER / FLOAT — Postgres canonicalizes
    # VARCHAR~TEXT (identical storage) and FLOAT to FLOAT8
    assert got == {
        "Country": "TEXT",
        "Year": "INTEGER",
        "Scenario": "TEXT",
        "Category": "TEXT",
        "Gas": "TEXT",
        "ReportedValue": "FLOAT8",
        "Unit": "TEXT",
    }
