"""The driver-JVM class-data-sharing archive behind ``session.get_session``:
what its key covers, when it is off, how a failed build is remembered,
and that a bad archive never blocks a launch. No Spark session starts
here: builds run a stub child process against a fake JDK and Spark home."""

from __future__ import annotations

import glob
import os
import shlex
import subprocess
import sys
from types import SimpleNamespace

import pytest

from mdb_to_postgres_spark import session
from mdb_to_postgres_spark.session import JvmLaunch, archive_key, jvm_archive_launch

# Read before any test points JAVA_HOME and SPARK_HOME at fakes.
REAL_JAVA = session._java()
PY4J_JARS = glob.glob(os.path.join(session._find_spark_home(), "jars", "py4j-*.jar"))


def _stub(code: str):
    """A ``_build_command`` replacement running ``code`` with the dump path
    as ``sys.argv[1]``."""
    return lambda dump, work: [sys.executable, "-c", code, dump, work]


def _never(dump, work):
    raise AssertionError("no build expected")


@pytest.fixture
def box(tmp_path, monkeypatch):
    """A fake JDK and Spark home (conf holds only a template), a private
    archive dir and no JVM gateway in this process."""
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "lib" / "server").mkdir(parents=True)
    (jdk / "lib" / "server" / "libjvm.so").write_bytes(b"v1")
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "log4j2.properties.template").write_text("")
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(home))
    for var in ("SPARK_CONF_DIR", *session._CLASSPATH_ENV):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session, "ARCHIVE_DIR", str(tmp_path / "cache"))
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    return SimpleNamespace(jdk=jdk, home=home, cache=tmp_path / "cache")


def _archive_path(launch: JvmLaunch) -> str:
    (flag,) = [o for o in shlex.split(launch.java_options) if o.startswith("-XX:SharedArchiveFile=")]
    return flag.split("=", 1)[1]


def test_key_changes_with_jars_jdk_and_oops_mode(box):
    java, home, conf = session._java(), str(box.home), str(box.cache / "conf")
    key = archive_key(java, home, conf, "3g")
    assert archive_key(java, home, conf, "24g") == key  # same compressed-oops mode
    assert archive_key(java, home, conf, "32g") != key
    assert archive_key(java, home, str(box.cache / "other"), "3g") != key
    (box.home / "jars" / "extra.jar").write_bytes(b"jar")
    with_jar = archive_key(java, home, conf, "3g")
    assert with_jar != key
    (box.jdk / "lib" / "server" / "libjvm.so").write_bytes(b"v2, rebuilt")
    assert archive_key(java, home, conf, "3g") != with_jar


@pytest.mark.parametrize("where", ["spark_home_conf", "user_conf_dir"])
def test_set_or_nonempty_conf_dir_turns_archive_off(box, tmp_path, monkeypatch, where):
    """Any SPARK_CONF_DIR the caller sets, even an empty one, is kept."""
    monkeypatch.setattr(session, "_build_command", _never)
    if where == "spark_home_conf":
        (box.home / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
        expected = None
    else:
        user = tmp_path / "user-conf"
        user.mkdir()
        monkeypatch.setenv("SPARK_CONF_DIR", str(user))
        expected = str(user)
    assert jvm_archive_launch("3g") == JvmLaunch("off:conf-dir")
    assert os.environ.get("SPARK_CONF_DIR") == expected
    assert not box.cache.exists()


def test_failed_build_writes_marker_and_is_not_retried(box, monkeypatch, capsys):
    monkeypatch.setattr(session, "_build_command", _stub("import sys; sys.exit(1)"))
    assert jvm_archive_launch("3g") == JvmLaunch("off:failed")
    (marker,) = glob.glob(str(box.cache / "*.failed"))
    assert "exited 1" in open(marker).read()
    assert not glob.glob(str(box.cache / "*.jsa"))
    err = capsys.readouterr().err
    assert "building the driver-JVM class-data-sharing archive" in err and "build exited 1" in err
    monkeypatch.setattr(session, "_build_command", _never)
    assert jvm_archive_launch("3g") == JvmLaunch("off:failed")


def test_killed_build_is_retried(box, monkeypatch):
    """A build killed by a signal (or timed out) may pass next time: no marker."""
    monkeypatch.setattr(session, "_build_command", _stub("import os, signal; os.kill(os.getpid(), signal.SIGKILL)"))
    assert jvm_archive_launch("3g") == JvmLaunch("off:failed")
    assert not glob.glob(str(box.cache / "*.failed"))
    monkeypatch.setattr(session, "_build_command", _stub("import sys; open(sys.argv[1], 'wb').write(b'jsa')"))
    assert jvm_archive_launch("3g").state == "built"


def test_build_drops_all_but_the_newest_other_key(box, monkeypatch):
    box.cache.mkdir()
    for age, stem in enumerate(["newer", "older", "oldest"]):
        for ext in (".jsa", ".size", ".log", ".lock"):
            path = box.cache / (stem + ext)
            path.write_text("x")
            os.utime(path, (1_000_000 - age, 1_000_000 - age))
    (box.cache / "failed-only.failed").write_text("build exited 1\n")
    os.utime(box.cache / "failed-only.failed", (1, 1))
    monkeypatch.setattr(session, "_build_command", _stub("import sys; open(sys.argv[1], 'wb').write(b'jsa')"))
    launch = jvm_archive_launch("3g")
    assert launch.state == "built"
    current = os.path.basename(_archive_path(launch))[: -len(".jsa")]
    left = {n for n in os.listdir(box.cache) if not n.endswith(".lock")}
    assert left == {"conf", *(f"{stem}{ext}" for stem in (current, "newer") for ext in (".jsa", ".size", ".log"))}
    assert {"older.lock", "oldest.lock"} <= set(os.listdir(box.cache))  # another process may hold one


def test_live_jvm_never_builds(box, monkeypatch):
    """A live SparkContext, or a gateway left up after spark.stop():
    getOrCreate reuses that JVM, so there is nothing to build for."""
    monkeypatch.setattr(session.SparkContext, "_gateway", object())
    monkeypatch.setattr(session, "_build_command", _never)
    assert jvm_archive_launch("3g") is None
    assert not box.cache.exists()


@pytest.mark.parametrize("writes", [True, False])
def test_option_never_names_a_missing_file(box, monkeypatch, writes):
    code = "import sys; open(sys.argv[1], 'wb').write(b'jsa')" if writes else "pass"
    monkeypatch.setattr(session, "_build_command", _stub(code))
    first = jvm_archive_launch("3g")
    if not writes:  # exit 0 without an archive is a failed build
        assert first == JvmLaunch("off:failed")
        return
    assert first.state == "built" and os.path.isfile(_archive_path(first))
    assert os.listdir(session._conf_dir()) == []
    assert sorted(os.path.splitext(n)[1] for n in os.listdir(box.cache)) == ["", ".jsa", ".lock", ".log", ".size"]
    monkeypatch.setattr(session, "_build_command", _never)
    again = jvm_archive_launch("3g")
    assert again.state == "hit" and _archive_path(again) == _archive_path(first)
    monkeypatch.setattr(session, "_build_command", _stub("import sys; open(sys.argv[1], 'wb').write(b'rebuilt')"))
    with open(_archive_path(first), "r+b") as f:  # truncated: the JVM would crash on it
        f.truncate(1)
    rebuilt = jvm_archive_launch("3g")
    assert rebuilt.state == "built" and open(_archive_path(rebuilt), "rb").read() == b"rebuilt"
    os.remove(_archive_path(first))  # deleted: rebuilt, never passed
    assert jvm_archive_launch("3g").state == "built"


@pytest.mark.skipif(REAL_JAVA is None, reason="no java binary")
def test_garbage_archive_never_blocks_a_launch(tmp_path):
    garbage = tmp_path / "garbage.jsa"
    garbage.write_bytes(os.urandom(4096))
    out = subprocess.run([REAL_JAVA, f"-XX:SharedArchiveFile={garbage}", "-Xshare:auto", "-version"],
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr


@pytest.mark.skipif(REAL_JAVA is None or not PY4J_JARS, reason="no java binary or py4j jar")
def test_rejected_archive_warns_on_stderr_not_stdout(box, tmp_path, monkeypatch):
    """An archive dumped with a jar on the classpath is rejected by a JVM
    started without it, and the JVM warns. With get_session's options the
    warning goes to stderr: stdout is where the CLI prints its data."""
    small = tmp_path / "small.jsa"
    # py4j.Protocol has no main method: the JVM loads it from the jar, exits 1 and dumps.
    subprocess.run([REAL_JAVA, f"-XX:ArchiveClassesAtExit={small}", "-cp", PY4J_JARS[0], "py4j.Protocol"],
                   capture_output=True, timeout=60)
    assert small.is_file()
    monkeypatch.setattr(session, "_build_command", _stub(f"import shutil, sys; shutil.copy({str(small)!r}, sys.argv[1])"))
    launch = jvm_archive_launch("3g")
    assert launch.state == "built"
    out = subprocess.run([REAL_JAVA, *shlex.split(launch.java_options), "-version"],
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0
    assert out.stdout == ""
    assert "Unable to use shared archive" in out.stderr
