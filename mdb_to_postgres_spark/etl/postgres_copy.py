"""External-COPY loader into PostgreSQL (SURVEY.md §2.1 #5, scale path).

The reference's sink is psql ``\\copy``/INSERT streaming. The direct
``df.write.jdbc`` path (sources/jdbc.py) is correct but INSERT-bound; at
bulk-load scale the canonical fast path into Postgres is ``COPY FROM
STDIN``. This module implements it Spark-natively and *executor-side*:

    df.foreachPartition -> one psql COPY stream per partition

so a 1000-executor cluster drives as many parallel COPY streams as the
Postgres server can accept — no driver bottleneck, no intermediate files.
Rows are serialized to COPY text format in the executor (tab-delimited,
``\\N`` for NULL), the exact wire format pg_dump/pg_restore use.

DDL comes from the same Spark->Postgres type map the schema-extraction
operator uses (etl/typemap.py ``pg_type``, §1.2 matrix), so a table created
here is what the reference's ``mdb-schema ... postgres`` stage would have
created. Array columns land as JSONB, written as ``to_json`` text.

Auth note: connections shell out to ``psql`` as the ``postgres`` OS user
(peer auth) — the zero-config path on a stock Debian Postgres. Pass a
custom ``psql_cmd`` for password/TCP setups.
"""

from __future__ import annotations

import shlex
import subprocess

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .typemap import pg_type

DEFAULT_PSQL = ("su", "postgres", "-c")


def _ident(name: str) -> str:
    """Quoted Postgres identifier — embedded quotes doubled per the SQL
    standard, so arbitrary source column/table names can't break out."""
    return '"' + name.replace('"', '""') + '"'


def create_table_ddl(schema: T.StructType, table: str) -> str:
    """CREATE TABLE for a Spark schema — the mdb-schema translation stage."""
    cols = ", ".join(f"{_ident(f.name)} {pg_type(f.dataType)}" for f in schema.fields)
    return f"CREATE TABLE {_ident(table)} ({cols})"


def _psql_shell(sql: str, dbname: str) -> str:
    """The shell command ``su -c`` runs — SQL and dbname safely quoted."""
    return f"psql -d {shlex.quote(dbname)} -v ON_ERROR_STOP=1 -At -c {shlex.quote(sql)}"


def run_psql(sql: str, dbname: str = "postgres") -> str:
    """Driver-side psql statement (DDL, checks)."""
    out = subprocess.run(
        [*DEFAULT_PSQL, _psql_shell(sql, dbname)],
        capture_output=True,
        text=True,
        cwd="/",  # su drops to the postgres user, which cannot read our cwd
    )
    if out.returncode != 0:
        raise RuntimeError(f"psql failed: {out.stderr.strip()}")
    return out.stdout.strip()


def _copy_text(value, dt: T.DataType) -> str:
    """One value in COPY text format (``\\N`` = NULL, escaped specials)."""
    if value is None:
        return "\\N"
    if isinstance(dt, T.BooleanType):
        return "t" if value else "f"
    if isinstance(dt, T.BinaryType):
        # bytea hex input is "\x<hex>"; COPY text needs the backslash escaped
        return "\\\\x" + bytes(value).hex()
    s = str(value)
    return (
        s.replace("\\", "\\\\")
        .replace("\t", "\\t")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )


def copy_into_postgres(
    df: DataFrame,
    table: str,
    dbname: str = "postgres",
    create: bool = True,
) -> None:
    """Bulk-load a DataFrame via parallel executor-side COPY streams."""
    if create:
        ddl = create_table_ddl(df.schema, table)
        run_psql(f"DROP TABLE IF EXISTS {_ident(table)}; {ddl}", dbname)
    arrays = [f.name for f in df.schema.fields if isinstance(f.dataType, T.ArrayType)]
    if arrays:
        df = df.withColumns({n: F.to_json(n) for n in arrays})

    fields = [(f.name, f.dataType) for f in df.schema.fields]
    quoted = ", ".join(_ident(n) for n, _ in fields)
    copy_cmd = _psql_shell(f"COPY {_ident(table)} ({quoted}) FROM STDIN", dbname)

    def load_partition(rows) -> None:
        proc = subprocess.Popen(
            [*DEFAULT_PSQL, copy_cmd],
            stdin=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
            cwd="/",
        )
        assert proc.stdin is not None
        try:
            for row in rows:
                proc.stdin.write(
                    "\t".join(_copy_text(row[i], dt) for i, (_, dt) in enumerate(fields)) + "\n"
                )
            proc.stdin.write("\\.\n")
            proc.stdin.close()
        except BrokenPipeError:
            pass  # psql died mid-stream; fall through to report ITS error
        if proc.wait() != 0:
            err = proc.stderr.read() if proc.stderr else ""
            raise RuntimeError(f"COPY stream failed: {err}")

    df.foreachPartition(load_partition)
