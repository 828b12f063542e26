"""JET/Access -> PostgreSQL -> Spark type map (SURVEY.md §1.2).

The reference's schema-translation step (`mdb-schema db.mdb postgres`)
emits Postgres DDL from the JET catalog; this module is that mapping as
data. Provenance: public mdbtools/JET/Postgres behavior (SURVEY.md §1.2,
[PUBLIC — high]); the reference checkout itself was empty (§0), so no
file:line citations into it exist.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

# JET logical type name -> (Postgres DDL type, Spark DataType)
_MAP: dict[str, tuple[str, T.DataType]] = {
    "bool": ("BOOLEAN", T.BooleanType()),
    "byte": ("SMALLINT", T.ShortType()),
    "int": ("SMALLINT", T.ShortType()),  # JET Integer is 16-bit
    "longint": ("INTEGER", T.IntegerType()),  # Access PK/autonumber default
    "float": ("REAL", T.FloatType()),
    "double": ("DOUBLE PRECISION", T.DoubleType()),
    "currency": ("NUMERIC(19,4)", T.DecimalType(19, 4)),  # MONEY, exact
    "numeric": ("NUMERIC(28,6)", T.DecimalType(28, 6)),
    "datetime": ("TIMESTAMP", T.TimestampType()),  # JET serials, epoch 1899-12-30
    "text": ("TEXT", T.StringType()),  # VARCHAR(n); length constraint dropped
    "memo": ("TEXT", T.StringType()),
    "ole": ("BYTEA", T.BinaryType()),  # blobs — the multimodal-column precursor
    "guid": ("VARCHAR(38)", T.StringType()),
    "hyperlink": ("TEXT", T.StringType()),
}

JET_TO_POSTGRES: dict[str, str] = {k: v[0] for k, v in _MAP.items()}
JET_TO_SPARK: dict[str, T.DataType] = {k: v[1] for k, v in _MAP.items()}

# Spark DataType.simpleString() -> Postgres DDL type (§1.2 matrix, sink
# direction): the COPY sink's CREATE TABLE and extract_schema both use it.
_SPARK_TO_PG: dict[str, str] = {
    "tinyint": "SMALLINT",
    "smallint": "SMALLINT",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "float": "REAL",
    "double": "DOUBLE PRECISION",
    "string": "TEXT",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "date": "DATE",
    "binary": "BYTEA",
}


def pg_type(dt: T.DataType) -> str:
    """Postgres DDL type of a Spark column type. Arrays map to JSONB, the
    type extract_schema's oracle pins for the embeddings column (a native
    REAL[] would change that row); the COPY sink writes them as JSON text."""
    simple = dt.simpleString()
    if simple.startswith("decimal"):
        return simple.upper().replace("DECIMAL", "NUMERIC")
    if isinstance(dt, T.ArrayType):
        return "JSONB"
    try:
        return _SPARK_TO_PG[simple]
    except KeyError:
        raise ValueError(f"no Postgres mapping for Spark type {simple}") from None


# JET date serials count days from this epoch (public JET format fact).
JET_EPOCH = "1899-12-30"

_IDENT_BAD = re.compile(r"[^a-z0-9_]+")


def sanitize_identifier(name: str) -> str:
    """Access object name -> safe lowercase SQL identifier.

    Mirrors the canonical mdb->postgres convention: lowercase, spaces and
    punctuation to underscores, leading digit prefixed, collapse repeats.
    """
    s = _IDENT_BAD.sub("_", name.strip().lower()).strip("_")
    s = re.sub(r"_+", "_", s)
    if not s:
        s = "col"
    if s[0].isdigit():
        s = f"c_{s}"
    return s


def postgres_ddl(table: str, columns: list[tuple[str, str]]) -> str:
    """Emit CREATE TABLE DDL for a JET-typed column list (name, jet_type)."""
    cols = ",\n  ".join(
        f"{sanitize_identifier(c)} {JET_TO_POSTGRES[jt]}" for c, jt in columns
    )
    return f"CREATE TABLE {sanitize_identifier(table)} (\n  {cols}\n);"
