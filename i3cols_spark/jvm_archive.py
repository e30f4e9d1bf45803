"""Start the driver JVM from a write-once class-data-sharing archive.

Spark loads 12–15k classes from ~290 jars at every driver start.  A
JDK dynamic AppCDS archive holds them pre-parsed and verified, which
roughly halves the launch (``get_spark`` ≈7.7 s → ≈3.9 s on a 4-core
VM).  ``start`` wraps the one ``getOrCreate`` of ``session.get_spark``:

- only a JVM that ``get_spark`` itself launches is touched — a live
  gateway (``SparkContext._gateway``), ``PYSPARK_GATEWAY_PORT``, and
  sessions built elsewhere get no flag;
- miss: the JVM starts with ``-XX:ArchiveClassesAtExit`` into a private
  temp dir; an ``atexit`` hook closes the gateway, waits for the
  JVM's exit-time dump (10–16 s) and, only if it exited with code 0,
  publishes the dir through ``i3cols_spark.publish`` (temp name,
  reclaim of dead builders' dirs, rename), then removes the archives
  of other keys;
- hit: the JVM starts with ``-XX:SharedArchiveFile``; the JVM's own
  CDS log tells whether it mapped the archive or refused it;
- the archive is ``$XDG_CACHE_HOME/i3cols_spark/jvm/<key>/spark.jsa``
  (default ``~/.cache``), ≈150 MB.  The key hashes the ``java``
  binary's resolved path, the size and mtime of its ``libjvm.so``, the
  names, sizes and mtimes of ``$SPARK_HOME/jars/*`` and the pyspark
  version — all read without starting a process;
- CDS refuses a non-empty directory on the class path, and Spark puts
  its conf dir (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) first.
  When that dir holds only ``*.template`` files (no config in effect),
  the launch points ``SPARK_CONF_DIR`` at an empty dir in the cache,
  for the launch only; when it holds anything else, or driver Java
  options are already set, the JVM starts normally;
- fail soft: a truncated, refused or crashing archive starts the JVM
  normally and leaves a ``REFUSED`` note under its key, so it is never
  rebuilt under the same key; every outcome — used, built, refused,
  skipped — is logged on this module's logger with its reason;
- quiet: the JVM's CDS messages go only to a log file
  (``-Xlog:cds*=off``), never to the caller's stdout or stderr.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import logging
import os
import shutil
import subprocess
import time
import uuid
from collections.abc import Callable

from i3cols_spark.publish import publish, reclaim, tmp_name

log = logging.getLogger(__name__)

_ARCHIVE = "spark.jsa"
#: The archive's byte size, written at publish: a truncated archive
#: can crash the JVM instead of being refused, so it is caught here.
_META = "archive.json"
_REFUSED = "REFUSED"
#: The empty dir the launch uses as Spark's conf dir.
_EMPTY_CONF = "conf"
#: Longest wait for the JVM's exit-time dump.
_DUMP_TIMEOUT_S = 300
_JAVA_OPTIONS = "spark.driver.extraJavaOptions"


def cache_root() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):  # the XDG spec ignores relative paths
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "i3cols_spark", "jvm")


def archive_key(spark_home: str) -> str:
    """Hash of what the archive depends on (module docstring); raises
    ``OSError`` when there is no ``java`` or jars dir to hash."""
    import pyspark

    java_home = os.environ.get("JAVA_HOME")  # the binary bin/spark-class runs
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        raise FileNotFoundError("no java on JAVA_HOME or PATH")
    java = os.path.realpath(java)
    h = hashlib.sha256(f"{java}\npyspark {pyspark.__version__}\n".encode())
    jars = os.path.join(spark_home, "jars")
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    for path in [libjvm] + [os.path.join(jars, n) for n in sorted(os.listdir(jars))]:
        st = os.stat(path)
        h.update(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:24]


def skip_reason(spark_home: str) -> str | None:
    """Why the JVM must start without the archive, or None: driver Java
    options are already set, or Spark's conf dir holds config."""
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "--driver-java-options" in submit_args or _JAVA_OPTIONS in submit_args:
        return "PYSPARK_SUBMIT_ARGS sets driver Java options"
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        config = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
    except FileNotFoundError:
        config = []
    if config:
        return (f"Spark conf dir {conf_dir} holds {', '.join(config)}, and CDS "
                "refuses a non-empty directory on the class path")
    return None


def _archive_ok(out: str) -> bool:
    """Whether ``out`` holds a complete published archive."""
    try:
        with open(os.path.join(out, _META)) as fh:
            size = json.load(fh)["bytes"]
        return os.path.getsize(os.path.join(out, _ARCHIVE)) == size
    except (OSError, ValueError, KeyError):
        return False


def _quiet(log_file: str) -> str:
    return f"-Xlog:cds*=off -Xlog:cds*=info:file={log_file}"


def _launch(create, java_options: str, conf_dir: str):
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return create(java_options)
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _refuse(out: str, why: str) -> None:
    """Keep a refused archive from being used or rebuilt under its key."""
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, _REFUSED), "w") as fh:
        fh.write(why + "\n")
    for name in (_ARCHIVE, _META):
        try:
            os.remove(os.path.join(out, name))
        except FileNotFoundError:
            pass
    log.warning("JVM class-data-sharing archive refused (%s); the JVM runs "
                "without it, and %s is not used or rebuilt again (delete it "
                "to retry)", why, out)


def start(create: Callable[[str | None], object]):
    """``create(java_options)`` — the caller's ``getOrCreate`` with
    ``spark.driver.extraJavaOptions`` set when ``java_options`` is not
    None — started from the archive when this call launches the JVM
    (module docstring)."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return create(None)
    spark_home = _find_spark_home()
    root = cache_root()
    reason = skip_reason(spark_home)
    if reason is None and any(c.isspace() or c in ":'\"\\" for c in root):
        reason = f"cache path {root!r} cannot be passed in a Java option"
    if reason is None:
        try:
            out = os.path.join(root, archive_key(spark_home))
            conf_dir = os.path.join(root, _EMPTY_CONF)
            os.makedirs(conf_dir, exist_ok=True)
        except OSError as e:
            reason = f"no archive key or cache dir ({e})"
    if reason is None and os.path.exists(os.path.join(out, _REFUSED)):
        reason = f"refused earlier, see {os.path.join(out, _REFUSED)}"
    if reason is not None:
        log.info("JVM class-data-sharing archive skipped: %s", reason)
        return create(None)
    archive = os.path.join(out, _ARCHIVE)
    if not os.path.exists(archive):
        return _start_building(create, out, conf_dir)
    if not _archive_ok(out):
        _refuse(out, f"{archive} does not have its published size")
        return create(None)
    # a new name: the JVM rotates an existing log file aside
    log_file = os.path.join(root, f"launch-{os.getpid()}-{uuid.uuid4().hex}.log")
    t0 = time.perf_counter()
    try:
        spark = _launch(create, f"-XX:SharedArchiveFile={archive} {_quiet(log_file)}", conf_dir)
    except Exception as e:
        if SparkContext._gateway is not None:
            raise
        spark = create(None)  # the JVM died at start; refuse only if a normal one starts
        _refuse(out, f"the JVM exited at start with it: {e}; CDS log {log_file}")
        return spark
    try:
        with open(log_file) as fh:
            lines = fh.readlines()
        os.remove(log_file)
    except FileNotFoundError:
        lines = []
    refusals = [ln.strip() for ln in lines if "Unable to use shared archive" in ln]
    if refusals or not any("Mapped dynamic region" in ln for ln in lines):
        _refuse(out, refusals[0] if refusals else "the JVM's CDS log shows no mapped archive")
    else:
        log.info("JVM class-data-sharing archive used: %s (JVM up in %.1f s)",
                 archive, time.perf_counter() - t0)
    return spark


def _start_building(create, out: str, conf_dir: str):
    reclaim(out)
    tmp = tmp_name(out)
    os.makedirs(tmp)
    java_options = (f"-XX:ArchiveClassesAtExit={os.path.join(tmp, _ARCHIVE)} "
                    f"{_quiet(os.path.join(tmp, 'cds.log'))}")
    try:
        spark = _launch(create, java_options, conf_dir)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    atexit.register(_finish_build, tmp, out, os.getpid())
    return spark


def _finish_build(tmp: str, out: str, pid: int) -> None:
    """At exit: let the JVM dump the archive, then publish it if the
    JVM exited with code 0."""
    from pyspark import SparkContext

    if os.getpid() != pid:  # a forked child inherited the hook
        return
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    code = dump = None
    if proc is not None:
        t0 = time.perf_counter()
        waited = proc.poll() is None
        if waited:
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            code = proc.wait(timeout=_DUMP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        dump = f"exit dump {time.perf_counter() - t0:.1f} s" if waited else "dumped before exit"
    archive = os.path.join(tmp, _ARCHIVE)
    if code != 0 or not os.path.isfile(archive):
        shutil.rmtree(tmp, ignore_errors=True)
        log.warning("JVM class-data-sharing archive not built: the JVM's exit "
                    "code was %s", code)
        return
    size = os.path.getsize(archive)
    with open(os.path.join(tmp, _META), "w") as fh:
        json.dump({"bytes": size}, fh)
    publish(tmp, out, _archive_ok)
    root, key = os.path.split(out)
    for name in os.listdir(root):  # other keys' archives
        path = os.path.join(root, name)
        if name not in (key, _EMPTY_CONF) and ".tmp-" not in name and os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
    log.info("JVM class-data-sharing archive built: %s (%.0f MB, %s)", out, size / 2**20, dump)
