"""``session.configure`` on foreign sessions: value-affecting confs
must take or fail loudly; performance-only ones may be refused.  And
``get_spark``'s JVM start from the launch home and the
class-data-sharing archive (``i3cols_spark.jvm_archive``): each JVM
case runs in a child process with its own ``XDG_CACHE_HOME``, so no
user cache is touched."""

from __future__ import annotations

import glob
import hashlib
import json
import logging
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np
import pytest

from i3cols_spark import jvm_archive
from i3cols_spark.session import configure


class _StubConf:
    def __init__(self, refuse: dict[str, str]):
        self.values: dict[str, str] = {}
        self.refuse = refuse

    def set(self, key, value):
        mode = self.refuse.get(key)
        if mode == "raise":
            raise RuntimeError(f"cannot modify {key}")
        if mode != "ignore":
            self.values[key] = value

    def get(self, key, default=None):
        return self.values.get(key, default)


class _StubSession:
    def __init__(self, refuse: dict[str, str]):
        self.conf = _StubConf(refuse)


@pytest.mark.parametrize("mode", ["raise", "ignore"])
def test_configure_raises_when_nanos_as_long_is_refused(mode):
    stub = _StubSession({"spark.sql.legacy.parquet.nanosAsLong": mode})
    with pytest.raises(RuntimeError, match="spark.sql.legacy.parquet.nanosAsLong"):
        configure(stub)


def test_configure_tolerates_refused_performance_keys():
    stub = _StubSession({
        "spark.sql.adaptive.enabled": "raise",
        "spark.sql.execution.arrow.pyspark.enabled": "ignore",
        "spark.sql.shuffle.partitions": "raise",
    })
    assert configure(stub) is stub
    assert stub.conf.values["spark.sql.session.timeZone"] == "UTC"


@pytest.mark.parametrize("mode", ["raise", "ignore"])
@pytest.mark.parametrize("stream", [False, True])
def test_npy_open_raises_when_filter_pushdown_is_refused(mode, stream):
    """Spark fails every npy read when the Python-datasource filter
    pushdown conf is off, so an open on a session that refuses it
    fails at once, naming the key."""
    from i3cols_spark.sources.npy_cols import read_npy_columns, stream_npy_columns

    stub = _StubSession({"spark.sql.python.filterPushdown.enabled": mode})
    open_fn = stream_npy_columns if stream else read_npy_columns
    with pytest.raises(RuntimeError, match="spark.sql.python.filterPushdown.enabled"):
        open_fn(stub, "/nonexistent")


# --- the driver JVM's class-data-sharing archive (i3cols_spark.jvm_archive) ---

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: A child that builds a session through ``get_spark`` and prints one
#: result line; with an argument it then waits to be killed.
_CHILD = r"""
import json, logging, sys, time
logging.basicConfig(level=logging.INFO, stream=sys.stderr, format="%(name)s %(message)s")
from i3cols_spark.session import get_spark
spark = get_spark("jvm-archive-test", cpus=1)
print(json.dumps({"rows": spark.range(3).count()}), flush=True)
if len(sys.argv) > 1:
    time.sleep(600)
"""

#: A child that builds a session through ``get_spark`` and prints where
#: the pyspark of a ``mapInArrow`` task and of a Python DataSource read
#: came from.
_WORKERS = r"""
import json, logging, sys
logging.basicConfig(level=logging.INFO, stream=sys.stderr, format="%(name)s %(message)s")
import pyspark
from pyspark.sql.datasource import DataSource, DataSourceReader
from i3cols_spark.session import get_spark, register_data_source


def origin():
    import pyspark
    return pyspark.__file__, pyspark.__version__


class Where(DataSource):
    @classmethod
    def name(cls):
        return "jvm_archive_where"

    def schema(self):
        return "file string, version string"

    def reader(self, schema):
        return WhereReader()


class WhereReader(DataSourceReader):
    def read(self, partition):
        yield origin()


def task(batches):
    import pyarrow as pa
    for b in batches:
        file, version = origin()
        yield pa.RecordBatch.from_pydict(
            {"id": b.column(0), "file": [file] * b.num_rows, "version": [version] * b.num_rows})


spark = get_spark("jvm-archive-test", cpus=1)
rows = spark.range(3).mapInArrow(task, "id long, file string, version string").collect()
register_data_source(spark, Where)
read = spark.read.format("jvm_archive_where").load().collect()
print(json.dumps({"driver": pyspark.__version__, "ids": sorted(r.id for r in rows),
                  "task": sorted({(r.file, r.version) for r in rows}),
                  "source": [(r.file, r.version) for r in read]}), flush=True)
"""

#: ``cli.py`` with this package's logging on stderr.
_CLI = r"""
import logging, sys
logging.basicConfig(level=logging.INFO, stream=sys.stderr, format="%(name)s %(message)s")
from i3cols_spark.cli import main
sys.exit(main(sys.argv[1:]))
"""


def _env(cache: str, **extra) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=cache, PYTHONPATH=REPO)
    env.update(extra)
    for key in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT"):
        if key not in extra:
            env.pop(key, None)
    return env


def _run(code: str, cache: str, *args: str, **extra) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", code, *args], env=_env(cache, **extra), cwd=REPO,
        capture_output=True, text=True, timeout=300,
    )


def _jvm_root(cache: str) -> str:
    return os.path.join(cache, "i3cols_spark", "jvm")


def _processes_naming(path: str) -> list[int]:
    """Live processes whose command line mentions ``path``."""
    pids = []
    for d in glob.glob("/proc/[0-9]*"):
        try:
            with open(os.path.join(d, "cmdline"), "rb") as fh:
                if path.encode() in fh.read():
                    pids.append(int(os.path.basename(d)))
        except OSError:
            pass
    return pids


def _old_layout_key(spark_home: str) -> str:
    """The archive key of a cache made before launch homes: the same
    hash without the Spark home path, for an archive whose class path
    was ``$SPARK_HOME/jars/*``."""
    import pyspark

    java = os.path.realpath(os.path.join(os.environ["JAVA_HOME"], "bin", "java"))
    h = hashlib.sha256(f"{java}\npyspark {pyspark.__version__}\n".encode())
    jars = os.path.join(spark_home, "jars")
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    for path in [libjvm] + [os.path.join(jars, n) for n in sorted(os.listdir(jars))]:
        st = os.stat(path)
        h.update(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:24]


@pytest.fixture(scope="module")
def built_cache(tmp_path_factory):
    """A cache of the old layout (an archive under the old key and the
    empty ``conf`` dir beside it) in which one building process was
    killed, then ``cli.py import-npy`` built and published the
    archive."""
    from pyspark.find_spark_home import _find_spark_home

    base = tmp_path_factory.mktemp("jvm_archive")
    cache = str(base / "cache")
    root = _jvm_root(cache)
    old = os.path.join(root, _old_layout_key(_find_spark_home()))
    os.makedirs(old)
    os.makedirs(os.path.join(root, "conf"))
    with open(os.path.join(old, "spark.jsa"), "wb") as fh:
        fh.write(b"\0" * 4096)
    with open(os.path.join(old, "archive.json"), "w") as fh:
        json.dump({"bytes": 4096}, fh)
    killed = subprocess.Popen(
        [sys.executable, "-c", _CHILD, "wait"], env=_env(cache), cwd=REPO,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, start_new_session=True,
    )
    try:
        assert json.loads(killed.stdout.readline()) == {"rows": 3}
        left = glob.glob(os.path.join(root, "*.tmp-*"))
    finally:
        os.killpg(killed.pid, signal.SIGKILL)  # the child and its JVM
        killed.wait()
    deadline = time.monotonic() + 60
    while _processes_naming(cache) and time.monotonic() < deadline:
        time.sleep(0.2)

    npy = str(base / "npy")
    os.makedirs(os.path.join(npy, "energy"))
    np.save(os.path.join(npy, "energy", "data.npy"), np.linspace(0, 1, 20))
    cli = _run(_CLI, cache, "--cpus", "1", "import-npy", npy, "--out", str(base / "out"))
    return {"cache": cache, "killed_tmp": left, "cli": cli, "old": old,
            "jvms_after": _processes_naming(cache)}


def _published(cache: str) -> str:
    (out,) = [p for p in glob.glob(os.path.join(_jvm_root(cache), "*"))
              if not os.path.basename(p).startswith("home-") and ".tmp-" not in p]
    return out


def _home(cache: str) -> str:
    (home,) = glob.glob(os.path.join(_jvm_root(cache), "home-*"))
    return home


def test_first_launch_publishes_the_archive_and_the_next_uses_it(built_cache):
    cache = built_cache["cache"]
    assert built_cache["cli"].returncode == 0, built_cache["cli"].stderr[-2000:]
    assert "archive built" in built_cache["cli"].stderr
    assert built_cache["jvms_after"] == []  # the building process outlived no JVM
    # the old layout's archive and conf dir are gone, and were never refused
    assert not os.path.exists(built_cache["old"])
    assert not glob.glob(os.path.join(_jvm_root(cache), "**", "REFUSED"), recursive=True)
    out = _published(cache)
    assert os.path.basename(out) == jvm_archive.archive_key(_home(cache))
    with open(os.path.join(out, "archive.json")) as fh:
        assert os.path.getsize(os.path.join(out, "spark.jsa")) == json.load(fh)["bytes"]
    again = _run(_CHILD, cache)
    assert again.returncode == 0, again.stderr[-2000:]
    assert again.stdout.splitlines()[-1] == '{"rows": 3}'
    assert f"jvm_archive JVM launched from the launch home {_home(cache)}\n" in again.stderr
    assert "jvm_archive JVM class-data-sharing archive used:" in again.stderr
    assert sorted(os.listdir(_jvm_root(cache))) == sorted(
        [os.path.basename(_home(cache)), os.path.basename(out)])


def test_workers_import_pyspark_outside_the_zips(built_cache):
    """Every Python process Spark starts for a launch from the launch
    home imports the driver's pyspark from outside Spark's zips."""
    run = _run(_WORKERS, built_cache["cache"])
    assert run.returncode == 0, run.stderr[-2000:]
    got = json.loads(run.stdout.splitlines()[-1])
    assert got["ids"] == [0, 1, 2]
    assert len(got["task"]) == 1 and len(got["source"]) == 1
    for file, version in got["task"] + got["source"]:
        assert ".zip" not in file and version == got["driver"]
    assert "launched from the launch home" in run.stderr


def _python_without_pyspark(tmp_path) -> tuple[str, str]:
    """A ``python -S`` wrapper (no site-packages) and a path entry that
    holds every site-packages entry except pyspark and py4j."""
    import pyarrow

    lib = tmp_path / "lib"
    lib.mkdir()
    site = os.path.dirname(os.path.dirname(pyarrow.__file__))
    for name in os.listdir(site):
        if not name.startswith(("pyspark", "py4j")):
            os.symlink(os.path.join(site, name), lib / name)
    wrapper = tmp_path / "python"
    wrapper.write_text(f'#!/bin/sh\nexec {sys.executable} -S "$@"\n')
    wrapper.chmod(0o755)
    return str(wrapper), str(lib)


def test_worker_interpreter_without_pyspark_launches_from_the_real_home(tmp_path):
    """A worker interpreter that cannot import pyspark outside Spark's
    zips gets the real Spark home, whose zips it imports pyspark from,
    and the reason is logged and kept in the launch home."""
    from pyspark.find_spark_home import _find_spark_home

    python, lib = _python_without_pyspark(tmp_path)
    cache = str(tmp_path / "cache")
    run = _run(_WORKERS, cache, PYSPARK_PYTHON=python, PYTHONPATH=f"{REPO}:{lib}")
    assert run.returncode == 0, run.stderr[-2000:]
    got = json.loads(run.stdout.splitlines()[-1])
    assert got["ids"] == [0, 1, 2]
    for file, version in got["task"] + got["source"]:
        assert "pyspark.zip" in file and version == got["driver"]
    why = "cannot import pyspark and py4j without Spark's zips"
    assert f"launched from Spark home {_find_spark_home()}, not the launch home" in run.stderr
    assert why in run.stderr
    (note,) = glob.glob(os.path.join(_home(cache), "python-*"))
    with open(note) as fh:
        assert why in fh.read()


def test_truncated_archive_starts_normally_and_is_not_rebuilt(built_cache, tmp_path):
    from pyspark.find_spark_home import _find_spark_home

    out = _published(built_cache["cache"])
    cache = str(tmp_path / "cache")
    home = jvm_archive.launch_home(_jvm_root(cache), _find_spark_home())
    copy = os.path.join(_jvm_root(cache), jvm_archive.archive_key(home))
    os.makedirs(copy)
    shutil.copy(os.path.join(out, "archive.json"), copy)
    with open(os.path.join(out, "spark.jsa"), "rb") as src, \
            open(os.path.join(copy, "spark.jsa"), "wb") as dst:
        dst.write(src.read(1 << 20))
    first = _run(_CHILD, cache)
    assert first.returncode == 0, first.stderr[-2000:]
    assert first.stdout.splitlines()[-1] == '{"rows": 3}'
    assert "archive refused" in first.stderr
    assert os.listdir(copy) == ["REFUSED"]
    second = _run(_CHILD, cache)
    assert second.returncode == 0, second.stderr[-2000:]
    assert "archive skipped: refused earlier" in second.stderr
    assert sorted(os.listdir(_jvm_root(cache))) == sorted(
        [os.path.basename(home), os.path.basename(copy)])


def test_cli_output_stays_clean_on_a_building_launch(built_cache):
    cli = built_cache["cli"]
    assert cli.returncode == 0, cli.stderr[-2000:]
    assert json.loads(cli.stdout.splitlines()[-1])["rows"] == 20
    assert "[cds" not in cli.stdout and "[cds" not in cli.stderr


def test_killed_build_leaves_a_temp_dir_the_next_miss_reclaims(built_cache):
    assert len(built_cache["killed_tmp"]) == 1
    assert not os.path.exists(built_cache["killed_tmp"][0])
    assert not glob.glob(os.path.join(_jvm_root(built_cache["cache"]), "*.tmp-*"))


# -- the launch rules, without a JVM --

def _fake_spark_home(tmp_path) -> str:
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template")
    return str(home)


def test_archive_key_follows_java_and_jars_and_starts_no_process(tmp_path, monkeypatch):
    spark_home = _fake_spark_home(tmp_path)
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "lib" / "server").mkdir(parents=True)
    libjvm = jdk / "lib" / "server" / "libjvm.so"
    libjvm.write_bytes(b"jvm")
    monkeypatch.setenv("JAVA_HOME", str(jdk))

    def no_process(*a, **k):
        raise AssertionError("the archive key started a process")

    monkeypatch.setattr(subprocess, "Popen", no_process)
    key = jvm_archive.archive_key(spark_home)
    assert key == jvm_archive.archive_key(spark_home)
    os.utime(os.path.join(spark_home, "jars", "b.jar"), ns=(1, 1))
    key_jars = jvm_archive.archive_key(spark_home)
    libjvm.write_bytes(b"jvm2")
    key_jvm = jvm_archive.archive_key(spark_home)
    linked = tmp_path / "linked"
    linked.symlink_to(spark_home)  # the same jars, reached from another home
    key_home = jvm_archive.archive_key(str(linked))
    assert len({key, key_jars, key_jvm, key_home}) == 4
    libjvm.unlink()
    with pytest.raises(OSError):
        jvm_archive.archive_key(spark_home)


def test_conf_dir_rule(tmp_path, monkeypatch):
    spark_home = _fake_spark_home(tmp_path)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    assert jvm_archive.skip_reason(spark_home) is None  # templates only
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "missing"))
    assert jvm_archive.skip_reason(spark_home) is None
    monkeypatch.delenv("SPARK_CONF_DIR")
    (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    assert "spark-defaults.conf" in jvm_archive.skip_reason(spark_home)
    (tmp_path / "spark" / "conf" / "spark-defaults.conf").unlink()
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-java-options -Dx=1 pyspark-shell")
    assert "driver Java options" in jvm_archive.skip_reason(spark_home)


def test_launch_home_links_the_real_home_and_is_remade_when_wrong(tmp_path):
    spark_home = _fake_spark_home(tmp_path)
    root = str(tmp_path / "cache")
    home = jvm_archive.launch_home(root, spark_home)
    assert sorted(os.listdir(home)) == ["conf", "jars"]  # no bin or RELEASE to link
    assert os.path.realpath(os.path.join(home, "jars")) == os.path.realpath(os.path.join(spark_home, "jars"))
    assert os.listdir(os.path.join(home, "conf")) == []
    assert jvm_archive.launch_home(root, spark_home) == home
    with open(os.path.join(home, "conf", "spark-defaults.conf"), "w") as fh:
        fh.write("spark.x 1\n")  # CDS would refuse a non-empty conf dir
    assert jvm_archive.launch_home(root, spark_home) == home
    assert os.listdir(os.path.join(home, "conf")) == []
    other = tmp_path / "other"
    (other / "jars").mkdir(parents=True)
    assert jvm_archive.launch_home(root, str(other)) != home


def test_worker_python_probe_runs_once_per_key(tmp_path, monkeypatch):
    home = str(tmp_path)
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    assert jvm_archive.worker_python_reason(home, "k1") is None
    old = tmp_path / "old-pyspark"
    old.mkdir()
    (old / "python").write_text('#!/bin/sh\necho 0.0.1\n')
    (old / "python").chmod(0o755)
    monkeypatch.setenv("PYSPARK_PYTHON", str(old / "python"))
    assert "imports pyspark 0.0.1" in jvm_archive.worker_python_reason(home, "k1")

    def no_process(*a, **k):
        raise AssertionError("the cached answer started a process")

    monkeypatch.setattr(subprocess, "run", no_process)
    assert "imports pyspark 0.0.1" in jvm_archive.worker_python_reason(home, "k1")
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    assert jvm_archive.worker_python_reason(home, "k1") is None
    assert len(glob.glob(os.path.join(home, "python-*"))) == 2


@pytest.fixture
def no_gateway(monkeypatch, tmp_path):
    """``jvm_archive.start`` as it runs before a JVM exists, with the
    cache in ``tmp_path`` and a worker interpreter that imports pyspark;
    yields the Java options each launch got, the ``SPARK_HOME`` and
    ``SPARK_CONF_DIR`` it ran with, and the ``create`` to pass."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(jvm_archive, "worker_python_reason", lambda home, key: None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for key in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(key, raising=False)
    launches: list = []
    envs: list = []

    def create(java_options):
        envs.append((os.environ.get("SPARK_HOME"), os.environ.get("SPARK_CONF_DIR")))
        launches.append(java_options)
        return "session"

    yield launches, envs, create


def _launch_key(tmp_path) -> str:
    from pyspark.find_spark_home import _find_spark_home

    root = _jvm_root(str(tmp_path / "cache"))
    return jvm_archive.archive_key(jvm_archive.launch_home(root, _find_spark_home()))


def test_conf_dir_with_config_skips_the_archive_and_logs_why(no_gateway, tmp_path, monkeypatch, caplog):
    launches, envs, create = no_gateway
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "log4j2.properties").write_text("rootLogger.level = info\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    with caplog.at_level(logging.INFO, logger="i3cols_spark.jvm_archive"):
        assert jvm_archive.start(create) == "session"
    assert launches == [None]
    (home,) = glob.glob(os.path.join(_jvm_root(str(tmp_path / "cache")), "home-*"))
    assert envs == [(home, str(conf))]  # the launch home, with the config kept
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    launched, skipped = caplog.records
    assert launched.message == f"JVM launched from the launch home {home}"
    assert "archive skipped" in skipped.message and "log4j2.properties" in skipped.message


def test_launch_sets_the_home_and_empty_conf_for_the_launch_only(no_gateway, tmp_path, monkeypatch):
    from pyspark.find_spark_home import _find_spark_home

    launches, envs, create = no_gateway
    monkeypatch.setenv("SPARK_HOME", _find_spark_home())
    out = os.path.join(_jvm_root(str(tmp_path / "cache")), _launch_key(tmp_path))
    os.makedirs(out)
    with open(os.path.join(out, "REFUSED"), "w") as fh:
        fh.write("refused\n")
    jvm_archive.start(create)
    (home,) = glob.glob(os.path.join(_jvm_root(str(tmp_path / "cache")), "home-*"))
    assert envs == [(home, os.path.join(home, "conf"))]
    assert os.environ["SPARK_HOME"] == _find_spark_home()
    assert "SPARK_CONF_DIR" not in os.environ


def test_worker_interpreter_without_pyspark_keeps_the_real_home(no_gateway, tmp_path, monkeypatch, caplog):
    from pyspark.find_spark_home import _find_spark_home

    launches, envs, create = no_gateway
    monkeypatch.setattr(jvm_archive, "worker_python_reason", lambda home, key: "no pyspark")
    spark_home = _find_spark_home()
    out = os.path.join(_jvm_root(str(tmp_path / "cache")), jvm_archive.archive_key(spark_home))
    os.makedirs(out)
    with open(os.path.join(out, "REFUSED"), "w") as fh:
        fh.write("refused\n")
    with caplog.at_level(logging.INFO, logger="i3cols_spark.jvm_archive"):
        jvm_archive.start(create)
    (home,) = glob.glob(os.path.join(_jvm_root(str(tmp_path / "cache")), "home-*"))
    assert envs == [(spark_home, os.path.join(home, "conf"))]
    assert f"JVM launched from Spark home {spark_home}, not the launch home: no pyspark" in caplog.text
    assert "skipped: refused earlier" in caplog.text  # the real home's own key


def test_gateway_port_leaves_the_launch_alone(no_gateway, tmp_path, monkeypatch, caplog):
    launches, envs, create = no_gateway
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    home = os.environ.get("SPARK_HOME")
    with caplog.at_level(logging.INFO, logger="i3cols_spark.jvm_archive"):
        assert jvm_archive.start(create) == "session"
    assert launches == [None] and envs == [(home, None)]
    assert not caplog.records
    assert not os.path.exists(tmp_path / "cache")


def test_refused_key_is_skipped_not_rebuilt(no_gateway, tmp_path, caplog):
    launches, envs, create = no_gateway
    out = os.path.join(_jvm_root(str(tmp_path / "cache")), _launch_key(tmp_path))
    os.makedirs(out)
    with open(os.path.join(out, "REFUSED"), "w") as fh:
        fh.write("refused\n")
    with caplog.at_level(logging.INFO, logger="i3cols_spark.jvm_archive"):
        jvm_archive.start(create)
    assert launches == [None]
    assert "skipped: refused earlier" in caplog.text
    assert os.listdir(out) == ["REFUSED"]


def test_get_spark_on_a_live_jvm_passes_no_archive_flag(spark, monkeypatch, caplog):
    from pyspark.sql import SparkSession

    from i3cols_spark.session import get_spark

    keys: list = []
    config = SparkSession.Builder.config

    def spy(self, key=None, value=None, **kw):
        keys.append(key)
        return config(self, key, value, **kw)

    monkeypatch.setattr(SparkSession.Builder, "config", spy)
    env = {k: os.environ.get(k) for k in ("SPARK_HOME", "SPARK_CONF_DIR")}
    with caplog.at_level(logging.INFO, logger="i3cols_spark.jvm_archive"):
        assert get_spark("i3cols-tests", cpus=8, shuffle_partitions=8) is spark
    assert keys and "spark.driver.extraJavaOptions" not in keys
    assert {k: os.environ.get(k) for k in env} == env
    assert not caplog.records


def test_archive_the_jvm_dies_on_falls_back_to_a_normal_start(no_gateway, tmp_path, caplog):
    """A JVM that exits at start with the archive is started again
    without it, and the archive is refused."""
    launches, envs, create = no_gateway
    out = os.path.join(_jvm_root(str(tmp_path / "cache")), _launch_key(tmp_path))
    os.makedirs(out)
    with open(os.path.join(out, "spark.jsa"), "wb") as fh:
        fh.write(b"\0" * 4096)
    with open(os.path.join(out, "archive.json"), "w") as fh:
        json.dump({"bytes": 4096}, fh)

    def crashing(java_options):
        create(java_options)
        if java_options is not None:
            raise RuntimeError("Java gateway process exited")
        return "session"

    with caplog.at_level(logging.INFO, logger="i3cols_spark.jvm_archive"):
        assert jvm_archive.start(crashing) == "session"
    assert "-XX:SharedArchiveFile=" in launches[0] and launches[1:] == [None]
    assert "archive refused" in caplog.text
    assert os.listdir(out) == ["REFUSED"]
