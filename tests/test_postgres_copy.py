"""External-COPY loader integration tests against the image's Postgres 15
(SURVEY.md §2.1 #5 scale path): Spark schema -> translated DDL -> parallel
executor-side COPY streams -> verify content via psql aggregates.

Skipped cleanly when no local Postgres is reachable (peer auth as the
``postgres`` OS user), so the suite stays green on minimal images.
"""

from __future__ import annotations

import subprocess

import pytest
from pyspark.sql import functions as F

from mdb_to_postgres_spark.etl import postgres_copy as pgc


def _pg_up() -> bool:
    try:
        return (
            subprocess.run(
                ["su", "postgres", "-c", "psql -At -c 'SELECT 1'"],
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip()
            == "1"
        )
    except Exception:
        return False


def _pg_up_or_start() -> bool:
    """Best-effort start of the image's Postgres before deciding to skip,
    so a driver-window pytest run exercises the live COPY sink instead of
    skipping because nobody launched the server first (round-10 verdict
    item 4). tools/start_postgres.sh is idempotent; failure to start
    (minimal image, no server toolchain) falls back to the clean skip."""
    if _pg_up():
        return True
    import os

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "start_postgres.sh",
    )
    try:
        subprocess.run(
            ["bash", script], capture_output=True, text=True, timeout=60
        )
    except Exception:
        return False
    return _pg_up()


pytestmark = pytest.mark.skipif(
    not _pg_up_or_start(), reason="no local Postgres (peer auth) reachable or startable"
)


def test_ddl_translation(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    ddl = pgc.create_table_ddl(df.schema, "orders_t")
    assert ddl.startswith('CREATE TABLE "orders_t" (')
    assert '"o_orderkey" BIGINT' in ddl
    assert '"o_totalprice" DOUBLE PRECISION' in ddl
    assert '"o_orderdate" TIMESTAMP' in ddl or '"o_orderdate" DATE' in ddl


def test_copy_roundtrip_counts_and_values(spark):
    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").repartition(4)
    pgc.copy_into_postgres(src, "orders_copy_test")

    assert int(pgc.run_psql('SELECT COUNT(*) FROM "orders_copy_test"')) == src.count()

    # Value fidelity: aggregate checksums computed independently on each side.
    pg_sum = pgc.run_psql(
        'SELECT SUM("o_orderkey"), ROUND(SUM("o_totalprice")::numeric, 2),'
        ' COUNT(DISTINCT "o_orderstatus") FROM "orders_copy_test"'
    )
    row = src.agg(
        F.sum("o_orderkey"),
        F.round(F.sum("o_totalprice"), 2),
        F.countDistinct("o_orderstatus"),
    ).collect()[0]
    got = pg_sum.split("|")
    assert int(got[0]) == row[0]
    assert abs(float(got[1]) - float(row[1])) < 0.01
    assert int(got[2]) == row[2]


def test_copy_handles_nulls_and_specials(spark):
    df = spark.createDataFrame(
        [
            (1, None, "plain"),
            (2, "tab\there", None),
            (3, "nl\nline", "back\\slash"),
        ],
        "id int, a string, b string",
    )
    pgc.copy_into_postgres(df, "specials_copy_test")
    assert pgc.run_psql('SELECT COUNT(*) FROM "specials_copy_test"') == "3"
    assert pgc.run_psql('SELECT COUNT(*) FROM "specials_copy_test" WHERE "a" IS NULL') == "1"
    assert pgc.run_psql('SELECT COUNT(*) FROM "specials_copy_test" WHERE "b" IS NULL') == "1"
    got = pgc.run_psql("SELECT \"a\" FROM \"specials_copy_test\" WHERE \"id\" = 2")
    assert got == "tab\there"
    got3 = pgc.run_psql("SELECT \"b\" FROM \"specials_copy_test\" WHERE \"id\" = 3")
    assert got3 == "back\\slash"


def test_full_pipeline_shape(spark):
    """The reference's whole lifecycle (SURVEY §3.1), Spark-native:
    scan -> cast/sanitize -> DDL -> parallel COPY -> verify."""
    from mdb_to_postgres_spark.etl.pipeline import null_normalize, project_rename

    src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    staged = null_normalize(project_rename(src), empty_string_cols=["n_name"])
    pgc.copy_into_postgres(staged, "nation_pipeline_test")
    assert int(pgc.run_psql('SELECT COUNT(*) FROM "nation_pipeline_test"')) == src.count()
    assert pgc.run_psql('SELECT "n_name" FROM "nation_pipeline_test" WHERE "n_nationkey" = 0') == src.filter(
        F.col("n_nationkey") == 0
    ).collect()[0].n_name


def test_copy_binary_bytea(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\x01\xffabc")), (2, None)], "id int, blob binary"
    )
    pgc.copy_into_postgres(df, "bytea_copy_test")
    assert pgc.run_psql('SELECT COUNT(*) FROM "bytea_copy_test"') == "2"
    got = pgc.run_psql("SELECT encode(\"blob\", 'hex') FROM \"bytea_copy_test\" WHERE \"id\" = 1")
    assert got == b"\x00\x01\xffabc".hex()
    assert pgc.run_psql('SELECT COUNT(*) FROM "bytea_copy_test" WHERE "blob" IS NULL') == "1"


def test_copy_failure_surfaces_psql_error(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1,)], "id int").repartition(1)
    with _pytest.raises(Exception) as ei:
        pgc.copy_into_postgres(df, "no_such_table_xyz", create=False)
    assert "COPY stream failed" in str(ei.value) or "does not exist" in str(ei.value)


def test_copy_array_and_byte_columns(spark):
    """array<float> lands as JSONB (the embeddings table's shape) and
    tinyint as SMALLINT; NULLs of both stay NULL."""
    df = spark.createDataFrame(
        [(1, [0.5, -1.25], 7), (2, None, None)], "id int, vec array<float>, b tinyint"
    )
    assert "\"vec\" JSONB" in pgc.create_table_ddl(df.schema, "t")
    assert "\"b\" SMALLINT" in pgc.create_table_ddl(df.schema, "t")
    pgc.copy_into_postgres(df, "array_byte_copy_test")
    got = pgc.run_psql(
        'SELECT jsonb_typeof("vec"), "vec"->>1, "b" FROM "array_byte_copy_test" WHERE "id" = 1'
    )
    assert got == "array|-1.25|7"
    nulls = 'SELECT COUNT(*) FROM "array_byte_copy_test" WHERE "vec" IS NULL AND "b" IS NULL'
    assert pgc.run_psql(nulls) == "1"
