"""The benchmark's workloads: pinned op lists, inputs and output checks.

Each op is one closed-loop request: build the DataFrame through the
engine's public entry points, then run it to completion. Op lists are pinned by name
here; a pinned name missing from the registry counts as a failed op.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
import time
from collections.abc import Callable
from contextlib import contextmanager, nullcontext

import duckdb
import pyarrow.parquet as pq
from mdb_to_postgres_spark.sources.tables import TABLES

import gen

PKG = "mdb_to_postgres_spark."

# Pinned op lists (see README.md for how they were chosen). MinHash-LSH
# and top-k kNN build session substrates (per-session cached intermediate
# tables keyed by the data directory): the shingle index, the pair
# statistics and the band signatures; the flattened corpus. Exact dedup
# builds none, which gives the op-time median a middle op.
LLM_FRESH_OPS = (
    "x_dedup_exact",
    "x_dedup_minhash_lsh",
    "x_sim_topk_knn",
)
# Table -> integer column whose Postgres SUM must equal DuckDB's.
MIGRATE_TABLES = {
    "orders": "o_custkey",
    "lineitem": "l_partkey",
    "documents": "n_chars",
}
# Known defect, probed once per run outside the op list: pg_type has no
# mapping for array<float>, so migrating embeddings raises.
MIGRATE_DEFECT_TABLE = "embeddings"

LLM_SIZES = gen.Sizes(orders=1500, documents=500, embeddings=500)
MIGRATE_SIZES = gen.Sizes(orders=5000, documents=500, embeddings=500)

# Per-layer metrics every workload produces in a traced run: Spark's
# counters (probe.py), the harness numbers and the tracing overhead.
COMMON_LAYERS = frozenset({
    "session.start_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "codegen.compiles", "codegen.compile_s", "codegen.cold_compiles", "codegen.cold_compile_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.busy_share",
    "exec.input_bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.gc_s",
    "jvm.heap_used_mb", "jvm.storage_used_mb",
    "host.steal_s", "host.loadavg_1m", "host.mem_available_mb", "harness.gen_s", "trace.overhead_pct",
})


class Spans:
    """Per-op seconds and counts keyed by metric name; inert unless on."""

    def __init__(self, on: bool):
        self.on = on
        self.values: dict[str, float] = {}

    def add(self, name: str, value: float) -> None:
        self.values[name] = self.values.get(name, 0.0) + value

    @contextmanager
    def _timed(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, time.perf_counter() - t0)

    def timed(self, name: str):
        return self._timed(name) if self.on else nullcontext()


def vhash(pdf) -> str:
    """Order-insensitive value hash of a result (the verify recipe's)."""
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return hashlib.md5(pdf.to_csv(index=False, float_format="%.9g").encode()).hexdigest()


def duck_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


class Workload:
    """Base: the engine's registered queries, each collected to pandas."""

    name = ""
    ops: tuple[str, ...] = ()
    sizes = LLM_SIZES
    needs_postgres = False
    # Per-layer metrics this workload must produce besides COMMON_LAYERS;
    # the other per-layer metrics do not apply to it and read 0.
    layers: frozenset[str] = frozenset()
    # Warm pass wall time on the reference box (4 cores, 15 GB, gVisor):
    # --seconds divided by this is the number of measured passes.
    nominal_pass_s = 1.0

    def __init__(self, seed: int, work_dir: str):
        from mdb_to_postgres_spark import registry

        self.seed = seed
        self.work_dir = work_dir
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        self.base_dir = os.path.join(work_dir, "data", "base")

    def prepare(self) -> None:
        shutil.rmtree(os.path.join(self.work_dir, "data"), ignore_errors=True)
        gen.generate(self.seed, self.sizes, self.base_dir)

    def pass_dir(self, index: int) -> str:
        return self.base_dir

    def ddl_timer(self, spans_of: Callable[[], Spans]):
        return nullcontext()

    def pass_stats(self, data_dir: str) -> dict[str, float]:
        """Per-pass numbers read after a traced pass."""
        return {}

    def probe_defect(self, spark, data_dir: str) -> dict[str, str]:
        return {}

    def module(self, op: str) -> str:
        fn = self.queries.get(op)
        mod = inspect.unwrap(fn).__module__ if fn else "missing"
        return mod[len(PKG):] if mod.startswith(PKG) else mod

    def run_op(self, spark, op: str, data_dir: str, spans: Spans, probe):
        """Build the query, then fetch its rows to the driver the way a
        user reads a result. Returns the rows for the check."""
        fn = self.queries.get(op)
        if fn is None:
            raise KeyError(f"pinned op {op} is not registered")
        with spans.timed("registry.build_s"):
            df = fn(spark, data_dir)
        if probe is not None:
            for k, v in probe.catalyst(df).items():
                spans.add(k, v)
        with spans.timed("exec.action_s"):
            return df.toPandas()

    def check(self, spark, data_dir: str, outputs: dict) -> dict[str, str]:
        """op -> failure message, for the last pass's outputs: every pinned
        op must hash-match its DuckDB oracle."""
        con = duck_views(data_dir)
        bad: dict[str, str] = {}
        for op in self.ops:
            if op not in outputs:
                bad[op] = "no output (op failed or is not registered)"
                continue
            if op not in self.oracles:
                bad[op] = "no oracle registered"
                continue
            want = vhash(con.execute(self.oracles[op]).df())
            if vhash(outputs[op]) != want:
                bad[op] = f"hash {vhash(outputs[op])} != oracle {want}"
        con.close()
        return bad


class LlmFresh(Workload):
    """Every pass, the cold one included, reads a new corpus variant, so
    session substrates keyed by the data directory are rebuilt inside
    every timed pass."""

    name = "llm_fresh"
    ops = LLM_FRESH_OPS
    nominal_pass_s = 3.4
    layers = frozenset({"registry.build_s", "extensions.dedup.op_s", "extensions.similarity.op_s"})

    def pass_dir(self, index: int) -> str:
        out = os.path.join(self.work_dir, "data", f"v{index + 1}")
        return gen.write_variant(self.base_dir, out, self.seed, index + 1)


class MigratePg(Workload):
    """T -> project_rename -> copy_into_postgres, one op per table. Every
    pass reads the same directory, so ``T`` scans the files in the cold
    pass and returns the session's cached scan after that."""

    name = "migrate_pg"
    ops = tuple(MIGRATE_TABLES)
    sizes = MIGRATE_SIZES
    needs_postgres = True
    nominal_pass_s = 2.3
    layers = frozenset({
        "sources.scan_s", "sources.cold_scan_s", "etl.copy_s", "etl.ddl_s", "etl.rows_per_s",
        "etl.pg_bytes_per_source_byte", "etl.postgres_copy.op_s",
    })

    def module(self, op: str) -> str:
        return "etl.postgres_copy"

    def run_op(self, spark, op: str, data_dir: str, spans: Spans, probe) -> None:
        from mdb_to_postgres_spark.etl.pipeline import project_rename
        from mdb_to_postgres_spark.etl.postgres_copy import copy_into_postgres
        from mdb_to_postgres_spark.sources.tables import T

        with spans.timed("sources.scan_s"):
            src = T(spark, data_dir, op)
        df = project_rename(src)
        if probe is not None:
            for k, v in probe.catalyst(df).items():
                spans.add(k, v)
        with spans.timed("etl.copy_s"), spans.timed("exec.action_s"):
            copy_into_postgres(df, op)
        if spans.on:
            spans.add("etl.rows", pq.ParquetFile(f"{data_dir}/{op}.parquet").metadata.num_rows)

    @contextmanager
    def ddl_timer(self, spans_of: Callable[[], Spans]):
        """Time every run_psql call (DDL issued by copy_into_postgres)."""
        from mdb_to_postgres_spark.etl import postgres_copy

        orig = postgres_copy.run_psql

        def timed_run_psql(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                spans_of().add("etl.ddl_s", time.perf_counter() - t0)

        postgres_copy.run_psql = timed_run_psql
        try:
            yield
        finally:
            postgres_copy.run_psql = orig

    def pass_stats(self, data_dir: str) -> dict[str, float]:
        from mdb_to_postgres_spark.etl.postgres_copy import run_psql

        names = ", ".join(f"'{t}'" for t in self.ops)
        pg_bytes = float(run_psql(
            "SELECT COALESCE(SUM(pg_total_relation_size(oid)), 0) FROM pg_class "
            f"WHERE relname IN ({names}) AND relkind = 'r'"
        ))
        src_bytes = sum(os.path.getsize(f"{data_dir}/{t}.parquet") for t in self.ops)
        return {"etl.pg_bytes_per_source_byte": pg_bytes / src_bytes}

    def check(self, spark, data_dir: str, outputs: dict) -> dict[str, str]:
        """Each table's Postgres row count and column sum equal DuckDB's
        over the source file."""
        from mdb_to_postgres_spark.etl.postgres_copy import run_psql

        con = duck_views(data_dir)
        bad: dict[str, str] = {}
        for table, col in MIGRATE_TABLES.items():
            want = con.execute(f"SELECT COUNT(*), SUM({col}) FROM {table}").fetchone()
            try:
                got = run_psql(f'SELECT COUNT(*), SUM("{col}") FROM "{table}"').split("|")
            except RuntimeError as e:
                bad[table] = str(e)
                continue
            if (int(got[0]), int(got[1])) != (int(want[0]), int(want[1])):
                bad[table] = f"postgres count,sum {got} != source {want}"
        con.close()
        return bad

    def probe_defect(self, spark, data_dir: str) -> dict[str, str]:
        """Outcome of migrating the known-failing table, for the report."""
        from mdb_to_postgres_spark.etl.pipeline import project_rename
        from mdb_to_postgres_spark.etl.postgres_copy import copy_into_postgres
        from mdb_to_postgres_spark.sources.tables import T

        try:
            copy_into_postgres(project_rename(T(spark, data_dir, MIGRATE_DEFECT_TABLE)), MIGRATE_DEFECT_TABLE)
        except Exception as e:  # noqa: BLE001 - the defect is reported, not raised
            return {f"migrate {MIGRATE_DEFECT_TABLE}": f"fails: {type(e).__name__}: {e}"}
        return {f"migrate {MIGRATE_DEFECT_TABLE}": "ok"}


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (MigratePg, LlmFresh)}

