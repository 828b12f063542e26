"""Test-corpus table catalog (TPC-H-ish star schema + events/documents/embeddings).

``T(spark, sf_dir, name)`` is the canonical scan used by every registered
query. It is a plain ``spark.read.parquet`` — Catalyst owns pushdown and
column pruning from there; at cluster scale the same call reads a
partitioned table directory with partition pruning intact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import tune_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor — TPC-H
# region/nation are fixed-size; supplier/part/customer grow with sf but the
# broadcast decision for those is left to Catalyst/AQE thresholds.
ALWAYS_BROADCAST = ("region", "nation")


# The session-substrate store: every per-session intermediate (T's scans,
# localCheckpointed indexes, collected models, staged-table names) of the
# live application, keyed (sf_dir, name).
_STORE: dict[tuple[str, str], object] = {}
_STORE_APP: str | None = None


def session_cache_get(spark: SparkSession, sf_dir: str, name: str, build):
    """Return the session substrate ``name`` for ``sf_dir``, building it
    once per application with ``build()``.

    ``name`` is a unique label per substrate (``"dedup.shingles"``,
    ``"sim.flat_corpus"``, ``"tables.df.orders"``, ...); substrates of
    several sf dirs of one session live side by side.

    Eviction contract: entries built under a stopped SparkSession reference
    unreachable localCheckpoint blocks and dead-JVM plans, so keeping them
    leaks memory in long-lived multi-session processes (a pytest run, a
    harness that restarts sessions). A process has one live SparkContext,
    so the whole store is dropped the first time a new applicationId asks
    for anything. Entries of the live session are never evicted: a
    localCheckpoint's blocks are not freed by dropping the reference, and
    unpersisting them breaks still-lazy DataFrames derived from them.
    ``functions.global_order._BUILD_CACHE`` is the one memo kept apart:
    it is keyed by plan hash and LRU-bounded."""
    global _STORE_APP
    app = spark.sparkContext.applicationId
    if _STORE_APP != app:
        _STORE.clear()
        _STORE_APP = app
    key = (sf_dir, name)
    if key not in _STORE:
        _STORE[key] = build()
    return _STORE[key]


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one corpus table (catalog-cached per session).

    spark.read.parquet costs a driver<->JVM roundtrip to read the footer
    schema on EVERY call; a real engine resolves scans against a catalog
    (metastore) instead of re-deriving the schema per query, so the scan
    is a session substrate like any other.

    Tunes the session first (``session.tune_session``: UTC, permissive
    casts, nanosecond parquet timestamps as BIGINT nanos), so a scan is
    deterministic against the DuckDB oracle even when the caller built
    the SparkSession without our factory.
    """
    tune_session(spark)
    return session_cache_get(
        spark, sf_dir, f"tables.df.{name}", lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet")
    )


def events_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with usable time columns.

    The corpus has shipped ``ts`` as BIGINT nanoseconds in one generation
    and TIMESTAMP(US) (no timezone) in another, so this adapts to whatever
    the parquet footer says rather than assuming either. It derives
    - ``ts_sec``: epoch seconds (BIGINT) — the canonical deterministic
      time axis for joins/windows (ns-vs-us precision never leaks), and
    - ``ts``: a microsecond TimestampType for Spark time-window operators
      (with the session pinned to UTC by T, NTZ->TIMESTAMP is identity,
      matching DuckDB's EXTRACT(epoch FROM ts) on the same file).
    """
    e = T(spark, sf_dir, "events")
    if e.schema["ts"].dataType.simpleString() == "bigint":
        ts_sec = F.expr("ts DIV 1000000000")
        ts_us = F.timestamp_micros(F.expr("ts DIV 1000"))
    else:
        ts_us = F.col("ts").cast("timestamp")
        # 2024-era data: unix_seconds truncation == FLOOR(EXTRACT(epoch)).
        ts_sec = F.unix_seconds(ts_us)
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "props",
        ts_sec.alias("ts_sec"),
        ts_us.alias("ts"),
    )


_EV_GEN: str | None = None


def events_generation() -> str:
    """'bigint' | 'timestamp' — the events.ts storage generation, probed
    from the parquet footers of every testdata sf dir (pyarrow, no Spark
    session needed; called once at oracle-construction/import time).

    The corpus has shipped ts as BIGINT nanoseconds in one generation and
    TIMESTAMP(US) in another. The Spark side (events_ts) adapts per file;
    oracle SQL is a static string registered at import, so it derives from
    THIS probe — and if the sf dirs ever disagree with each other no
    single string can be right, which fails loudly here instead of as a
    silent per-sf hash mismatch."""
    global _EV_GEN
    if _EV_GEN is None:
        import glob
        import os

        import pyarrow.parquet as pq
        import pyarrow.types as pat

        roots = set(glob.glob("/root/testdata/sf*"))
        env = os.environ.get("SPARK_GRAFT_SF_DIR")
        if env:
            roots.add(env)
        kinds = set()
        for root in sorted(roots):
            path = os.path.join(root, "events.parquet")
            if not os.path.exists(path):
                continue
            if os.path.isdir(path):
                # multi-file table (e.g. the per-copy sf1 replica): all
                # parts share one writer schema — footer-probe the first
                parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
                if not parts:
                    continue
                path = parts[0]
            t = pq.read_schema(path).field("ts").type
            kinds.add("bigint" if pat.is_integer(t) else "timestamp")
        if len(kinds) > 1:
            raise RuntimeError(
                f"events.ts generations disagree across sf dirs ({kinds}); "
                "static oracle SQL cannot serve both — regenerate testdata "
                "to one generation"
            )
        _EV_GEN = kinds.pop() if kinds else "timestamp"
    return _EV_GEN


def ev_sec_sql(col: str = "ts") -> str:
    """DuckDB epoch-seconds expression for events.ts, matching events_ts's
    Spark-side derivation for the probed generation (BIGINT ns: floor-div;
    timestamp: unix_seconds == FLOOR(EXTRACT(epoch)) for 2024-era data)."""
    if events_generation() == "bigint":
        return f"({col} // 1000000000)"
    return f"CAST(FLOOR(EXTRACT(epoch FROM {col})) AS BIGINT)"


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the full catalog and register temp views (for spark.sql use)."""
    out = {}
    for name in TABLES:
        df = T(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
