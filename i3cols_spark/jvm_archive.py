"""Start the driver JVM from a package-owned Spark home and a
write-once class-data-sharing archive.

``start`` wraps the one ``getOrCreate`` of ``session.get_spark`` and
cuts two costs of a JVM that it launches:

- Spark loads 12–15k classes from ~290 jars at every driver start.  A
  JDK dynamic AppCDS archive holds them pre-parsed and verified, which
  roughly halves the launch (``get_spark`` ≈7.7 s → ≈3.9 s on a 4-core
  VM).
- Every Python process Spark starts (the worker daemon, a Python
  DataSource planner, the stream runner) gets
  ``<SPARK_HOME>/python/lib/pyspark.zip`` and the py4j zip first on
  its ``PYTHONPATH``, built from the driver JVM's own ``SPARK_HOME``.
  The zips hold only source files, so each such process compiles
  pyspark again (≈0.9 s), and every task's
  ``importlib.invalidate_caches()`` walks their zip importers.  The
  JVM is therefore launched with ``SPARK_HOME`` set to a *launch
  home*: ``bin``, ``jars`` and ``RELEASE`` symlinked to the real home,
  an empty ``conf`` and no ``python/lib``.  Spark's Python processes
  then import pyspark and py4j from the worker interpreter's
  site-packages and their cached bytecode.

The rules:

- only a JVM that ``get_spark`` itself launches is touched — a live
  gateway (``SparkContext._gateway``), ``PYSPARK_GATEWAY_PORT``, and
  sessions built elsewhere get no flag and no change of environment;
- ``SPARK_HOME`` and ``SPARK_CONF_DIR`` are set for the launch only,
  and restored after it;
- the cache is ``$XDG_CACHE_HOME/i3cols_spark/jvm/`` (default
  ``~/.cache``): ``home-<hash>/`` is the launch home of one real home
  (the hash is of its resolved path), made once by temp-then-swap
  (``i3cols_spark.publish``); ``<key>/spark.jsa`` is the archive,
  ≈150 MB;
- fallback: the launch home is used only when the worker interpreter
  (``PYSPARK_PYTHON``, else ``python3``), run with this process's
  environment, imports py4j and the driver's pyspark version without
  Spark's zips.  One probe process answers that, and the answer is
  cached in the launch home as ``python-<hash>`` (of the archive key,
  the interpreter's resolved path and ``PYTHONPATH``); a "no" launches
  from the real home, as Spark does, until that file is deleted.
  Every launch logs the home it used, and why when it is the real one;
- the key hashes the ``java`` binary's resolved path, the size and
  mtime of its ``libjvm.so``, the launch's Spark home path, the names,
  sizes and mtimes of its ``jars/*`` and the pyspark version — all
  read without starting a process.  The home path is in the key
  because CDS checks the class path (``<home>/jars/*``): an archive
  built from another home would be refused;
- miss: the JVM starts with ``-XX:ArchiveClassesAtExit`` into a private
  temp dir; an ``atexit`` hook closes the gateway, waits for the
  JVM's exit-time dump (10–16 s) and, only if it exited with code 0,
  publishes the dir (temp name, reclaim of dead builders' dirs,
  rename), then removes the archives of other keys;
- hit: the JVM starts with ``-XX:SharedArchiveFile``; the JVM's own
  CDS log tells whether it mapped the archive or refused it;
- CDS refuses a non-empty directory on the class path, and Spark puts
  its conf dir (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) first.
  When that dir holds only ``*.template`` files (no config in effect),
  the launch uses the launch home's empty ``conf``; when it holds
  anything else, the launch keeps that dir and, like a launch with
  driver Java options already set, starts without the archive;
- fail soft: a truncated, refused or crashing archive starts the JVM
  without it and leaves a ``REFUSED`` note under its key, so it is
  never rebuilt under the same key; a cache that cannot be made
  starts the JVM as Spark would.  Every outcome — used, built,
  refused, skipped — is logged on this module's logger with its
  reason;
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

from i3cols_spark.publish import building, publish, reclaim, tmp_name

log = logging.getLogger(__name__)

_ARCHIVE = "spark.jsa"
#: The archive's byte size, written at publish: a truncated archive
#: can crash the JVM instead of being refused, so it is caught here.
_META = "archive.json"
_REFUSED = "REFUSED"
#: Name prefix of the launch homes in the cache.
_HOME = "home-"
#: What a launch home links to in the real home; the rest of it is an
#: empty ``conf`` dir.
_LINKED = ("bin", "jars", "RELEASE")
_CONF = "conf"
#: What the worker interpreter runs to tell whether it imports the
#: driver's pyspark without Spark's zips.
_PROBE = "import py4j, pyspark; print(pyspark.__version__)"
_PROBE_TIMEOUT_S = 120
#: Longest wait for the JVM's exit-time dump.
_DUMP_TIMEOUT_S = 300
_JAVA_OPTIONS = "spark.driver.extraJavaOptions"


def cache_root() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):  # the XDG spec ignores relative paths
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "i3cols_spark", "jvm")


def archive_key(spark_home: str) -> str:
    """Hash of what the archive of a launch from ``spark_home`` depends
    on (module docstring); raises ``OSError`` when there is no ``java``
    or jars dir to hash."""
    import pyspark

    java_home = os.environ.get("JAVA_HOME")  # the binary bin/spark-class runs
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        raise FileNotFoundError("no java on JAVA_HOME or PATH")
    java = os.path.realpath(java)
    h = hashlib.sha256(f"{java}\npyspark {pyspark.__version__}\nhome {spark_home}\n".encode())
    jars = os.path.join(spark_home, "jars")
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    for path in [libjvm] + [os.path.join(jars, n) for n in sorted(os.listdir(jars))]:
        st = os.stat(path)
        h.update(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:24]


def launch_home(root: str, spark_home: str) -> str:
    """The launch home of ``spark_home`` under ``root``, made on first
    use and remade when its links or its empty ``conf`` are not as
    they should be; raises ``OSError`` when it cannot be made."""
    real = os.path.realpath(spark_home)
    home = os.path.join(root, _HOME + hashlib.sha256(real.encode()).hexdigest()[:12])
    links = {n: os.path.join(real, n) for n in _LINKED if os.path.exists(os.path.join(real, n))}

    def current(path: str) -> bool:
        try:
            return (not os.listdir(os.path.join(path, _CONF))
                    and all(os.readlink(os.path.join(path, n)) == t for n, t in links.items()))
        except OSError:
            return False

    if not current(home):
        with building(home, current) as tmp:
            os.makedirs(os.path.join(tmp, _CONF))
            for name, target in links.items():
                os.symlink(target, os.path.join(tmp, name))
    return home


def worker_python_reason(home: str, key: str) -> str | None:
    """Why Spark's Python processes would not import the driver's
    pyspark from a launch from ``home`` (None: they would) — the
    cached answer of one probe of the worker interpreter."""
    import pyspark

    python = os.environ.get("PYSPARK_PYTHON") or "python3"
    exe = shutil.which(python)
    if exe is None:
        return f"worker interpreter {python!r} not found"
    ident = f"{key}\n{os.path.realpath(exe)}\n{os.environ.get('PYTHONPATH', '')}\n"
    note = os.path.join(home, "python-" + hashlib.sha256(ident.encode()).hexdigest()[:16])
    try:
        with open(note) as fh:
            return fh.read().strip() or None
    except FileNotFoundError:
        pass
    try:
        probe = subprocess.run([python, "-c", _PROBE], capture_output=True, text=True,
                               timeout=_PROBE_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        return f"worker interpreter {python!r} did not answer ({e})"  # not cached
    version = probe.stdout.split()[-1:]
    if probe.returncode != 0:
        error = (probe.stderr.strip().splitlines() or ["no message"])[-1]
        reason = f"worker interpreter {python!r} cannot import pyspark and py4j without Spark's zips: {error}"
    elif version != [pyspark.__version__]:
        reason = (f"worker interpreter {python!r} imports pyspark {' '.join(version)}, "
                  f"not the driver's {pyspark.__version__}")
    else:
        reason = ""
    tmp = tmp_name(note)
    with open(tmp, "w") as fh:
        fh.write(reason + "\n")
    os.replace(tmp, note)
    return reason or None


def _conf_in_effect(spark_home: str) -> tuple[str, list[str]]:
    """Spark's conf dir and the config files in it (not templates)."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        config = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
    except FileNotFoundError:
        config = []
    return conf_dir, config


def skip_reason(spark_home: str) -> str | None:
    """Why the JVM must start without the archive, or None: driver Java
    options are already set, or Spark's conf dir holds config."""
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "--driver-java-options" in submit_args or _JAVA_OPTIONS in submit_args:
        return "PYSPARK_SUBMIT_ARGS sets driver Java options"
    conf_dir, config = _conf_in_effect(spark_home)
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


def _launch(create, java_options: str | None, spark_home: str, conf_dir: str):
    """``create(java_options)`` with ``SPARK_HOME`` and
    ``SPARK_CONF_DIR`` set for the call only."""
    saved = {k: os.environ.get(k) for k in ("SPARK_HOME", "SPARK_CONF_DIR")}
    os.environ.update(SPARK_HOME=spark_home, SPARK_CONF_DIR=conf_dir)
    try:
        return create(java_options)
    finally:
        for key, value in saved.items():
            if value is None:
                del os.environ[key]
            else:
                os.environ[key] = value


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
    None — started from the launch home and the archive when this call
    launches the JVM (module docstring)."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return create(None)
    spark_home = _find_spark_home()
    root = cache_root()
    if any(c.isspace() or c in ":'\"\\" for c in root):
        log.info("JVM launched from Spark home %s without the archive: cache path %r "
                 "cannot be passed in a class path or Java option", spark_home, root)
        return create(None)
    try:
        home = launch_home(root, spark_home)
        key = archive_key(home)
        why_not = worker_python_reason(home, key)
        empty_conf = os.path.join(home, _CONF)
        if why_not is not None:
            home, key = spark_home, archive_key(spark_home)
    except OSError as e:
        log.info("JVM launched from Spark home %s without the archive: no launch "
                 "home or archive key in %s (%s)", spark_home, root, e)
        return create(None)
    if why_not is None:
        log.info("JVM launched from the launch home %s", home)
    else:
        log.info("JVM launched from Spark home %s, not the launch home: %s", home, why_not)
    conf_dir, config = _conf_in_effect(spark_home)
    if not config:
        conf_dir = empty_conf
    out = os.path.join(root, key)
    reason = skip_reason(spark_home)
    if reason is None and os.path.exists(os.path.join(out, _REFUSED)):
        reason = f"refused earlier, see {os.path.join(out, _REFUSED)}"
    if reason is not None:
        log.info("JVM class-data-sharing archive skipped: %s", reason)
        return _launch(create, None, home, conf_dir)
    archive = os.path.join(out, _ARCHIVE)
    if not os.path.exists(archive):
        return _start_building(create, out, home, conf_dir)
    if not _archive_ok(out):
        _refuse(out, f"{archive} does not have its published size")
        return _launch(create, None, home, conf_dir)
    # a new name: the JVM rotates an existing log file aside
    log_file = os.path.join(root, f"launch-{os.getpid()}-{uuid.uuid4().hex}.log")
    t0 = time.perf_counter()
    try:
        spark = _launch(create, f"-XX:SharedArchiveFile={archive} {_quiet(log_file)}", home, conf_dir)
    except Exception as e:
        if SparkContext._gateway is not None:
            raise
        # the JVM died at start; refuse only if a normal one starts
        spark = _launch(create, None, home, conf_dir)
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


def _start_building(create, out: str, home: str, conf_dir: str):
    reclaim(out)
    tmp = tmp_name(out)
    os.makedirs(tmp)
    java_options = (f"-XX:ArchiveClassesAtExit={os.path.join(tmp, _ARCHIVE)} "
                    f"{_quiet(os.path.join(tmp, 'cds.log'))}")
    try:
        spark = _launch(create, java_options, home, conf_dir)
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
    for name in os.listdir(root):  # other keys' archives, an old cache layout's conf dir
        path = os.path.join(root, name)
        if (name != key and not name.startswith(_HOME) and ".tmp-" not in name
                and os.path.isdir(path)):
            shutil.rmtree(path, ignore_errors=True)
    log.info("JVM class-data-sharing archive built: %s (%.0f MB, %s)", out, size / 2**20, dump)
