"""SparkSession factory.

One shared session per process: at bench scale (sf0.1) fixed overheads
dominate, so every query reuses a single JVM/session (BASELINE.md tuning
notes). The defaults here are chosen for local[N] testing but scale up
unchanged: AQE handles partition coalescing and skew at any size, and the
shuffle-partition count is a tunable, not a hardcode.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import re
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Shuffle partitions: at local sf<=0.1 a small count avoids scheduling
# overhead; on a real cluster this should be ~2-3x total cores or left to
# AQE's coalescing (initialPartitionNum high, coalesce down).
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def build_conf(builder: SparkSession.Builder, shuffle_partitions: int | None = None) -> SparkSession.Builder:
    """Apply engine defaults to a builder (also used by tests/bench)."""
    return (
        builder
        # Adaptive execution: runtime re-planning, partition coalescing,
        # skew-join splitting — required posture for the 100 TB design goal.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        # Arrow for every Python<->JVM crossing (pandas_udf, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timezone so date/time functions match the DuckDB
        # oracle regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Permissive casts (bad values -> NULL), mirroring the reference's
        # tolerant mdb-export -> Postgres load path (SURVEY.md §2.2 #10).
        .config("spark.sql.ansi.enabled", "false")
    )


def _session_builder(app_name: str) -> SparkSession.Builder:
    """The local session's builder, with everything but the archive options."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # local[N] packs N executor threads into the driver JVM; the 1g
        # default heap starves broadcast builds and hash aggs long before
        # the 32 threads do. Static conf: applies only when this factory
        # actually launches the JVM (no-op via getOrCreate on a live one).
        .config("spark.driver.memory", _driver_memory())
        .config("spark.driver.maxResultSize", "4g")
        # Status-store retention caps. A long-lived local session that runs
        # the full 313-query registry several times (bench's cold + warm
        # passes) accumulates ~2k SQL executions and >10k stages in the
        # AppStatusListener/SQLAppStatusListener stores at Spark's default
        # caps (1000 executions, each pinning formatted plan strings; 1000
        # jobs/stages, 100k tasks). The round-12 bench window showed warm
        # pass totals climbing monotonically 112->125->146 s on an idle box
        # — listener-store heap growth, not data. Bounded tightly: the
        # engine never reads these stores; the UI stays usable for live
        # debugging with the most recent ~40 queries.
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "300")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.sql.ui.retainedExecutions", "40")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # Whole-stage-codegen class cache (round 12, guide §1.2 "per-task
        # work"): Spark's default 100-entry CodeGenerator cache thrashes on
        # a session that runs the full 313-query registry — measured 1,578
        # generated-class RE-compiles per warm pass over just 80 queries
        # (CodegenMetrics), i.e. every plan recompiles on every pass. At
        # 5000 entries warm-pass compiles drop to ~25 and an 80-query pass
        # shrinks 26.8 -> 21.4 s. Not a local-only win: any long-lived
        # driver serving a query mix wider than 100 codegen units pays the
        # same repeated Janino compilation. Static conf (read when the
        # CodeGenerator cache is first built), hence set here and not in
        # tune_session.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "5000"),
        )
        # Round 12 (guide §5): localCheckpoint/broadcast blocks are only
        # released after the ContextCleaner sees their driver references
        # collected — and a 24 g heap may not take a full GC for many
        # minutes, so a long pass over the registry (dozens of per-call
        # checkpoints) piles storage blocks until the collector stalls
        # mid-query (bench r12 mid-round record: individual queries
        # spiking 0.8 -> 43 s in late warm passes). Spark's own remedy is
        # the cleaner's periodic GC (default 30min — never fires inside a
        # pass); 90s keeps the block manager drained continuously.
        # Env-overridable; on a real cluster executors GC on their own
        # heap pressure and this only affects the driver.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "90s"),
        )
    )
    # Optional dedicated scratch root for shuffle/spill files (static conf,
    # only effective when this factory launches the JVM). bench.py points
    # this at an atexit-swept scratch dir so a crashed/killed run cannot
    # strand gigabytes of spill in the shared tmp (round-10 ENOSPC class).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return build_conf(builder)


def get_session(app_name: str = "mdb-to-postgres-spark") -> SparkSession:
    """Create (or reuse) the configured local session.

    When this call launches the driver JVM, the launch goes through the
    checkout's class-data-sharing archive (``jvm_archive_launch``), and the
    archive's state is recorded as ``spark.graft.jvmArchive``.
    """
    builder = _session_builder(app_name)
    launch = jvm_archive_launch(_driver_memory())
    if launch is None:  # the JVM is already up: getOrCreate launches nothing
        return builder.getOrCreate()
    builder = builder.config("spark.graft.jvmArchive", launch.state)
    if not launch.java_options:
        return builder.getOrCreate()
    builder = builder.config("spark.driver.defaultJavaOptions", launch.java_options)
    os.environ["SPARK_CONF_DIR"] = _conf_dir()
    try:
        return builder.getOrCreate()
    finally:
        os.environ.pop("SPARK_CONF_DIR", None)


# Driver-JVM class-data-sharing archive (JEP 350, dynamic CDS). Starting
# the driver JVM loads thousands of classes from Spark's jars; an archive
# of them, dumped once per checkout, maps them in ready-parsed and takes a
# launch from a median 8.1 s to 4.2 s (perfbench, 4 cores, JDK 17). The JVM
# checks a dynamic archive against its own build, the classpath (jar
# sizes and mtimes, and no non-empty directory on it) and the
# compressed-oops mode, and a rejected archive also switches off the JDK's
# default base archive, which would make the launch slower than one
# without any option. So the archive's file name hashes exactly those
# inputs, and only an intact archive under the current key is passed.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARCHIVE_DIR = os.path.join(_ROOT, ".cache", "jvm")
_BUILD_TIMEOUT_S = 300
# The JVM prints a rejected archive's warning on stdout, where the CLI
# prints its data; warnings go to stderr instead whenever the archive is on.
_ARCHIVE_LOGGING = "-Xlog:disable -Xlog:all=warning:stderr"
# The files one archive key leaves in ARCHIVE_DIR, besides its lock.
_KEY_FILES = (".jsa", ".size", ".log", ".failed")
# Launcher environment that appends entries to the driver's classpath.
_CLASSPATH_ENV = ("SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")


class JvmLaunch(NamedTuple):
    """How the next driver JVM starts. ``state`` is ``hit``, ``built`` or
    ``off:<reason>``; when off, no option is passed and ``SPARK_CONF_DIR``
    is left alone, so the JVM starts exactly as it would without archive
    support. When on, the JVM starts with ``SPARK_CONF_DIR`` pointing at
    the empty ``_conf_dir()``."""

    state: str
    java_options: str | None = None


def _conf_dir() -> str:
    return os.path.join(ARCHIVE_DIR, "conf")


def _driver_memory() -> str:
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")


def _heap_gib(mem: str) -> float:
    """A ``spark.driver.memory`` value in GiB. Spark's launcher passes it to
    the JVM as ``-Xmx<mem>``, so a bare number counts bytes."""
    m = re.fullmatch(r"(\d+)([kmgt]?)", mem.strip().lower())
    if not m:
        raise ValueError(f"spark.driver.memory {mem!r} is not <number>[k|m|g|t]")
    return int(m.group(1)) * {"": 2**-30, "k": 2**-20, "m": 2**-10, "g": 1, "t": 2**10}[m.group(2)]


def _java() -> str | None:
    """The java binary spark-class runs: $JAVA_HOME/bin/java, else java on PATH."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _libjvm(java: str) -> str:
    return os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")


def archive_key(java: str, spark_home: str, conf_dir: str, driver_mem: str) -> str:
    """Hash of what the JVM checks a dynamic archive against: the JDK
    (java path, ``libjvm.so`` size and mtime), the classpath (Spark's jars
    by name, size and mtime, the conf dir, the appending environment) and
    whether the heap is large enough (>= 32 GiB) to turn off compressed oops."""
    lib = os.stat(_libjvm(java))
    parts = [java, f"{lib.st_size}:{lib.st_mtime_ns}", conf_dir, f"nocoops={_heap_gib(driver_mem) >= 32}"]
    for jar in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = jar.stat()
        parts.append(f"{jar.name}:{st.st_size}:{st.st_mtime_ns}")
    parts += [f"{v}={os.environ.get(v, '')}" for v in _CLASSPATH_ENV]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def jvm_archive_launch(driver_mem: str) -> JvmLaunch | None:
    """The archive options for the driver JVM that the next ``getOrCreate``
    launches, building the archive first when this checkout has none for
    the current key. None when this process already has a JVM gateway:
    getOrCreate then launches nothing, even after ``spark.stop()``.

    Off (a ``SPARK_CONF_DIR`` set by the caller, a ``$SPARK_HOME/conf``
    holding files, no JDK found, an unwritable checkout, a failed build)
    means today's launch. CDS refuses a non-empty directory on the
    classpath, and spark-class puts the conf dir first; ``$SPARK_HOME/conf``
    holding only ``*.template`` files (which Spark never reads) is swapped
    for the empty ``.cache/jvm/conf``.
    """
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if os.environ.get("SPARK_CONF_DIR"):
        return JvmLaunch("off:conf-dir")
    try:
        spark_home = _find_spark_home()
        default = os.path.join(spark_home, "conf")
        if os.path.isdir(default) and any(not n.endswith(".template") for n in os.listdir(default)):
            return JvmLaunch("off:conf-dir")
        java = _java()
        if java is None or not os.path.isfile(_libjvm(java)):
            return JvmLaunch("off:no-jdk")
        conf_dir = _conf_dir()
        os.makedirs(conf_dir, exist_ok=True)
        archive = os.path.join(ARCHIVE_DIR, archive_key(java, spark_home, conf_dir, driver_mem) + ".jsa")
        state = _ensure_archive(archive, conf_dir)
    except (OSError, ValueError):
        return JvmLaunch("off:error")
    if state.startswith("off:"):
        return JvmLaunch(state)
    return JvmLaunch(state, f"-XX:SharedArchiveFile={shlex.quote(archive)} -Xshare:auto {_ARCHIVE_LOGGING}")


def _intact(archive: str) -> bool:
    """The archive exists at the size its build recorded. The JVM maps it
    without checking its length, and a truncated archive crashes the
    launch (SIGBUS while relocating it), so only a recorded size is trusted."""
    try:
        with open(archive[: -len(".jsa")] + ".size") as f:
            return os.path.getsize(archive) == int(f.read())
    except (OSError, ValueError):
        return False


class _BuildKilled(Exception):
    """The build child timed out or died by a signal (host stall, OOM
    kill): nothing says the next build fails too."""


def _ensure_archive(archive: str, conf_dir: str) -> str:
    """``hit`` or ``built`` when ``archive`` is intact on return, else
    ``off:failed``. One process builds (over any damaged file); others wait
    on the lock. A build whose child exits non-zero or writes no archive
    leaves a ``.failed`` marker (with the reason), and no later launch
    retries while it is there; a killed build is retried next launch."""
    stem = archive[: -len(".jsa")]
    marker = stem + ".failed"
    if _intact(archive):
        return "hit"
    if os.path.exists(marker):
        return "off:failed"
    with open(stem + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # released when the file closes
        if _intact(archive):
            return "hit"
        if os.path.exists(marker):
            return "off:failed"
        print(
            f"mdb_to_postgres_spark: building the driver-JVM class-data-sharing archive {archive} "
            f"(once per checkout, about 40-60 s; later launches start in about half the time). "
            f"To launch without it, set SPARK_CONF_DIR (e.g. to $SPARK_HOME/conf).",
            file=sys.stderr, flush=True,
        )
        try:
            error = _build_archive(archive, conf_dir)
        except _BuildKilled as killed:
            error, marker = str(killed), None
        if error is None:
            _drop_stale_archives(stem)
            return "built"
        print(f"mdb_to_postgres_spark: {error}; see {stem}.log. Launching without the archive.",
              file=sys.stderr, flush=True)
        if marker:
            with open(marker, "w") as f:
                f.write(error + "\n")
        return "off:failed"


def _drop_stale_archives(stem: str) -> None:
    """Delete the files of all but the newest other key (each
    archive is ~169 MB). One other key survives, so a caller alternating
    two heap modes does not rebuild on every switch. Lock files stay:
    another process may hold one."""
    keys: dict[str, float] = {}
    for entry in os.scandir(os.path.dirname(stem)):
        other, ext = os.path.splitext(entry.path)
        if ext in _KEY_FILES and other != stem:
            keys[other] = max(keys.get(other, 0.0), entry.stat().st_mtime)
    for other in sorted(keys, key=keys.get, reverse=True)[1:]:
        for ext in _KEY_FILES:
            if os.path.exists(other + ext):
                os.remove(other + ext)


def _build_command(dump_path: str, work: str) -> list[str]:
    code = "import sys\nfrom mdb_to_postgres_spark.session import _train_archive\n_train_archive(*sys.argv[1:])"
    return [sys.executable, "-c", code, dump_path, work]


def _build_archive(archive: str, conf_dir: str) -> str | None:
    """Dump ``archive`` from one child process (its own process group,
    killed whole on timeout), then move it into place. None on success,
    else why not; ``_BuildKilled`` when the child was killed. The child's
    output is kept next to it as ``.log``."""
    stem = archive[: -len(".jsa")]
    tmp = f"{stem}.{os.getpid()}.tmp"
    work = tempfile.mkdtemp(prefix="train-", dir=os.path.dirname(archive))
    path = os.pathsep.join(p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p)
    env = dict(os.environ, SPARK_CONF_DIR=conf_dir, PYTHONPATH=path)
    try:
        with open(stem + ".log", "wb") as log:
            proc = subprocess.Popen(
                _build_command(tmp, work), cwd=work, env=env, stdin=subprocess.DEVNULL,
                stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                rc = proc.wait(timeout=_BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:  # also on interrupt: no JVM outlives the build
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                proc.wait()
        if rc is None:
            raise _BuildKilled(f"build timed out after {_BUILD_TIMEOUT_S} s")
        if rc < 0:
            raise _BuildKilled(f"build killed by signal {-rc}")
        if rc != 0:
            return f"build exited {rc}"
        size = os.path.getsize(tmp) if os.path.isfile(tmp) else 0
        if size == 0:
            return "build wrote no archive"
        os.replace(tmp, archive)
        with open(stem + ".size", "w") as f:
            f.write(str(size))
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(tmp):
            os.remove(tmp)


def _train_archive(dump_path: str, work: str) -> None:
    """Child side of the build: one session whose JVM dumps every class it
    loaded to ``dump_path`` as it exits, after a small parquet write and
    read, an aggregate and a join."""
    from pyspark.sql import functions as F

    builder = _session_builder("jvm-archive-build").config(
        "spark.driver.defaultJavaOptions", f"-XX:ArchiveClassesAtExit={shlex.quote(dump_path)}"
    )
    spark = builder.getOrCreate()
    gateway = SparkContext._gateway
    try:
        path = os.path.join(work, "t.parquet")
        spark.range(10_000).selectExpr(
            "id", "id % 97 AS k", "CAST(id AS DOUBLE) / 7 AS x", "CAST(id AS STRING) AS s",
            "DATE'2024-01-01' + CAST(id % 365 AS INT) AS d",
        ).write.parquet(path)
        t = spark.read.parquet(path)
        agg = t.groupBy("k").agg(F.count("*").alias("n"), F.sum("x").alias("sx"))
        t.join(agg, "k").groupBy("d").agg(F.max("n"), F.min("s")).collect()
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        rc = gateway.proc.wait()  # the JVM writes the archive on its way out
    if rc != 0:
        raise SystemExit(f"driver JVM exited {rc} while writing the archive")


_TUNED_APPS: set[str] = set()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally provided session.

    The verification driver constructs its own SparkSession; static conf
    (master, memory) is theirs, but runtime conf that affects result
    determinism (timezone, ANSI mode) and small-scale latency (AQE, shuffle
    partition count — Spark's 200 default costs ~1-2 s of pure task
    scheduling PER QUERY at sf0.01) is settable here. Called by every
    registered query via the registry wrapper, memoized per application so
    the conf RPCs happen once per session.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _TUNED_APPS:
        return spark
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")  # permissive tier-R casts
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    except Exception:
        pass  # static in some builds; fine
    _TUNED_APPS.add(app_id)
    return spark
